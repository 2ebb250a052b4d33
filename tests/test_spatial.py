"""Spatial layer tests: cell-id parity (SQL expr vs numpy), the three
point-in-footprint join strategies vs a brute-force oracle (exact row
parity incl. edge/outside/hot-spot pages), kNN vs brute force with
deterministic tie-breaks, and skew/partitioning behavior."""

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rio_toa_spark.operators import spatial_join as sj
from rio_toa_spark.spatial import cells as cell_mod


LEVEL = 7


# the world box's corners and edge midpoints, and points outside it
# on every side (the clamp)
_EDGE_POINTS = [
    (lon, lat)
    for lon in (-200.0, -180.0, -179.999, 0.0, 179.999, 180.0, 250.0)
    for lat in (-95.0, -90.0, -89.999, 0.0, 89.999, 90.0, 120.0)
]


@pytest.mark.parametrize("level", [1, 6, 7, 8, 12, 16])
def test_cell_expr_matches_numpy(spark, pages_df, level):
    edges = spark.createDataFrame(_EDGE_POINTS, "lon double, lat double")
    rows = (
        sj.with_cell(pages_df.select("lon", "lat").unionByName(edges), level=level)
        .select("lon", "lat", "cell")
        .collect()
    )
    lon = np.array([r.lon for r in rows])
    lat = np.array([r.lat for r in rows])
    expected = cell_mod.cell_of_points(lon, lat, level)
    got = np.array([r.cell for r in rows])
    assert np.array_equal(got, expected)
    assert got.max() == (1 << 2 * level) - 1  # the (180, 90) corner


def test_morton_roundtrip():
    rng = np.random.default_rng(0)
    x = rng.integers(0, 1 << 10, 1000)
    y = rng.integers(0, 1 << 10, 1000)
    code = cell_mod.morton_encode(x, y)
    dx, dy = cell_mod.morton_decode(code)
    assert np.array_equal(dx, x) and np.array_equal(dy, y)


def _brute_force_pip(fixture_paths):
    pages = pq.read_table(fixture_paths["pages"]).to_pylist()
    import json

    scenes = pq.read_table(fixture_paths["scenes"]).to_pylist()
    boxes = {}
    for s in scenes:
        meta = json.loads(s["mtl_json"])["L1_METADATA_FILE"]["PRODUCT_METADATA"]
        boxes[s["scene_id"]] = (
            min(meta["CORNER_%s_LON_PRODUCT" % c] for c in ("UL", "UR", "LL", "LR")),
            min(meta["CORNER_%s_LAT_PRODUCT" % c] for c in ("UL", "UR", "LL", "LR")),
            max(meta["CORNER_%s_LON_PRODUCT" % c] for c in ("UL", "UR", "LL", "LR")),
            max(meta["CORNER_%s_LAT_PRODUCT" % c] for c in ("UL", "UR", "LL", "LR")),
        )
    expected = set()
    for p in pages:
        for sid, (w, s_, e, n) in boxes.items():
            if w <= p["lon"] <= e and s_ <= p["lat"] <= n:
                expected.add((p["url"], sid))
    return expected


@pytest.fixture(scope="module")
def pip_expected(fixture_paths):
    return _brute_force_pip(fixture_paths)


@pytest.mark.parametrize("strategy", ["broadcast", "salted"])
def test_pip_join_strategies_exact(spark, pages_df, scenes_df, pip_expected, strategy):
    fps = sj.scene_footprints(scenes_df)
    out = sj.pip_join(pages_df, fps, level=LEVEL, strategy=strategy)
    got = {(r.url, r.scene_id) for r in out.select("url", "scene_id").collect()}
    assert got == pip_expected
    assert len(got) > 0
    # pages outside every footprint must be absent
    all_urls = {r.url for r in pages_df.select("url").collect()}
    assert len(all_urls - {u for u, _ in got}) > 0


def test_pip_join_includes_edge_pages(spark, pages_df, scenes_df, pip_expected):
    """Pages placed exactly on footprint edges must match (inclusive
    bounds) — they exist by construction in the fixture."""
    fps = sj.scene_footprints(scenes_df).collect()
    edges = set()
    for fp in fps:
        edges.update([fp.fw, fp.fe])
    edge_urls = {
        r.url
        for r in pages_df.where(F.col("lon").isin(list(edges))).select("url").collect()
    }
    assert edge_urls, "fixture must contain edge pages"
    joined_urls = {u for u, _ in pip_expected}
    assert edge_urls <= joined_urls
    got = {
        r.url
        for r in sj.pip_join(pages_df, sj.scene_footprints(scenes_df), level=LEVEL)
        .select("url")
        .collect()
    }
    assert edge_urls <= got


def test_pages_to_tiles_assignment(spark, pages_df, tiles_df, pip_expected):
    """Page -> covering tile: each in-footprint page lands in >= 1 tile
    and every (page, tile) respects containment."""
    tf = sj.tile_footprints(tiles_df)
    out = sj.pip_join(pages_df, tf, level=LEVEL).select("url", "tile_id").collect()
    in_scene_urls = {u for u, _ in pip_expected}
    matched_urls = {r.url for r in out}
    assert matched_urls == in_scene_urls


def _brute_force_knn(fixture_paths, k):
    pages = pq.read_table(fixture_paths["pages"]).to_pylist()
    tiles = pq.read_table(fixture_paths["tiles"]).to_pylist()
    seen = {}
    for t in tiles:
        tid = "%s/%d/%d" % (t["scene_id"], t["tile_row"], t["tile_col"])
        seen[tid] = (
            (t["bounds_w"] + t["bounds_e"]) / 2,
            (t["bounds_s"] + t["bounds_n"]) / 2,
        )
    expected = {}
    for p in pages:
        cands = sorted(
            ((np.sqrt((p["lon"] - cx) ** 2 + (p["lat"] - cy) ** 2), tid) for tid, (cx, cy) in seen.items()),
        )[:k]
        expected[p["url"]] = [tid for _, tid in cands]
    return expected


@pytest.mark.parametrize("strategy", ["broadcast", "cells"])
def test_knn_matches_brute_force(spark, pages_df, tiles_df, fixture_paths, strategy):
    k = 3
    out = sj.knn_join(pages_df, tiles_df, k=k, strategy=strategy, level=LEVEL)
    got = {}
    for r in out.collect():
        got.setdefault(r.url, []).append((r.rank, r.tile_id))
    expected = _brute_force_knn(fixture_paths, k)
    assert len(got) == len(expected)
    for url, ranked in got.items():
        assert [t for _, t in sorted(ranked)] == expected[url]


def test_salted_join_spreads_hot_cell(spark, pages_df, scenes_df):
    """The hot cell holds ~25% of pages; after salting, no single
    (cell, salt) group should hold more than ~1/salt of the hot mass."""
    level = LEVEL
    salt = 8
    pts = sj.with_cell(pages_df, level=level).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("lon"), F.col("lat")), F.lit(salt))
    )
    grp = pts.groupBy("cell", "_salt").count().collect()
    top = max(r["count"] for r in grp)
    total = sum(r["count"] for r in grp)
    hot_total = max(
        sum(r["count"] for r in grp if r.cell == c) for c in {r.cell for r in grp}
    )
    assert hot_total / total > 0.2  # fixture really is skewed
    assert top < hot_total  # salting split the hot cell
    assert top <= hot_total / salt * 2.5  # reasonably even spread


def test_repartition_by_cell_ranges(spark, pages_df):
    out = sj.repartition_by_cell(pages_df, num_partitions=4, level=LEVEL)
    assert out.rdd.getNumPartitions() <= 4
    assert out.count() == pages_df.count()


def test_cell_hierarchy_parent_commutes(spark):
    """Morton parent (>> 2k) must equal re-encoding the point at the
    coarser level — the prefix property hierarchy rollups rely on."""
    import numpy as np

    from rio_toa_spark.spatial import cells as cm

    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    c8 = cm.cell_of_points(lon, lat, 8)
    for k in (1, 2, 3):
        assert np.array_equal(cm.cell_parent(c8, k), cm.cell_of_points(lon, lat, 8 - k))


def test_cell_parent_expr_matches_numpy(spark):
    import numpy as np

    from rio_toa_spark.operators import spatial_join as sj
    from rio_toa_spark.spatial import cells as cm

    rng = np.random.default_rng(6)
    rows = [(float(a), float(b)) for a, b in zip(rng.uniform(-180, 180, 300), rng.uniform(-90, 90, 300))]
    df = spark.createDataFrame(rows, "lon double, lat double")
    got = (
        sj.with_cell(df, level=8)
        .select(sj.cell_parent_expr(__import__("pyspark.sql.functions", fromlist=["x"]).col("cell"), 2).alias("p"))
        .collect()
    )
    exp = cm.cell_parent(cm.cell_of_points([r[0] for r in rows], [r[1] for r in rows], 8), 2)
    assert [r.p for r in got] == exp.tolist()


def test_knn_broadcast_exact_ties_beyond_partition_slice(spark):
    """All centroids exactly equidistant (integer lattice, d^2 exact in
    f64): the kth value equals the partition-slice max, forcing the
    full-sort fallback — ties must resolve to the lowest tile_ids."""
    pts = spark.createDataFrame([("p", 0.0, 0.0)], "url string, lon double, lat double")
    ring = [(3, 4), (4, 3), (-3, 4), (-4, 3), (3, -4), (4, -3), (-3, -4), (-4, -3),
            (0, 5), (5, 0), (0, -5), (-5, 0), (3, 4), (4, 3), (-3, 4), (-4, 3)]
    cents = spark.createDataFrame(
        [("t%02d" % i, float(x), float(y)) for i, (x, y) in enumerate(ring)],
        "tile_id string, cx double, cy double",
    )
    out = sj.knn_centroids(pts, cents, k=3, strategy="broadcast").collect()
    assert [r.tile_id for r in sorted(out, key=lambda r: r.rank)] == ["t00", "t01", "t02"]
    assert all(r.dist == 5.0 for r in out)


def test_knn_broadcast_empty_centroids(spark):
    pts = spark.createDataFrame([("p", 0.0, 0.0)], "url string, lon double, lat double")
    cents = spark.createDataFrame([], "tile_id string, cx double, cy double")
    assert sj.knn_centroids(pts, cents, k=3, strategy="broadcast").count() == 0


@pytest.mark.parametrize("strategy", ["broadcast", "cells"])
def test_knn_skips_points_without_coordinates(spark, strategy):
    """A point with a null lon or lat has no neighbours under either
    strategy (no row, rather than a null-distance neighbour)."""
    pts = spark.createDataFrame(
        [("p", 0.0, 0.0), ("no_lon", None, 0.0), ("no_lat", 0.0, None)],
        "url string, lon double, lat double",
    )
    cents = spark.createDataFrame([("t0", 1.0, 0.0)], "tile_id string, cx double, cy double")
    out = sj.knn_centroids(pts, cents, k=1, strategy=strategy).collect()
    assert [(r.url, r.tile_id, r.dist) for r in out] == [("p", "t0", 1.0)]


def test_knn_broadcast_many_blocks_ties_at_block_edges(spark):
    """2,560 lattice centroids put the point block at its floor of 32,
    so one Arrow batch of 1,200 points runs as 38 blocks. Every third
    point is a cell center (four centroids tie at d^2 = 0.5, k=3 cuts
    the tie) and every third an edge midpoint (ties at 0.25 and 1.25),
    so exact ties sit on both sides of every block edge; ids are
    shuffled against the lattice order. Matches a numpy brute force
    on (d^2, tile_id) exactly."""
    rng = np.random.default_rng(2048)
    gx, gy = np.meshgrid(np.arange(-32, 32), np.arange(-20, 20))
    cx, cy = gx.ravel().astype(float), gy.ravel().astype(float)
    ids = np.array(["t%05d" % i for i in rng.permutation(len(cx))])
    assert len(cx) * 32 > sj.KNN_BLOCK_ELEMS  # block at its floor of 32
    pts = []
    for i in range(1200):
        x, y = float(rng.integers(-32, 31)), float(rng.integers(-20, 19))
        if i % 3 == 0:
            x, y = x + 0.5, y + 0.5
        elif i % 3 == 1:
            x = x + 0.5
        else:
            x, y = x + rng.uniform(0, 1), y + rng.uniform(0, 1)
        pts.append(("p%04d" % i, x, y))
    k = 3
    cents = spark.createDataFrame(
        [(str(t), float(a), float(b)) for t, a, b in zip(ids, cx, cy)],
        "tile_id string, cx double, cy double",
    )
    points = spark.createDataFrame(pts, "url string, lon double, lat double").coalesce(1)
    got = {
        (r.url, r.rank): (r.tile_id, r.dist)
        for r in sj.knn_centroids(points, cents, k=k, strategy="broadcast").collect()
    }
    expected = {}
    for url, x, y in pts:
        d2 = (x - cx) ** 2 + (y - cy) ** 2
        for rank, j in enumerate(np.lexsort((ids, d2))[:k], start=1):
            expected[(url, rank)] = (str(ids[j]), float(np.sqrt(d2[j])))
    assert got == expected


def test_knn_block_step_memory_budget():
    """A 10k-point batch against 384 centroids stays within a few
    L2-sized (block x centroids) temporaries plus its outputs: blocks
    of 2^20 elements made two 8 MiB temporaries (~26 MB traced)."""
    import tracemalloc

    rng = np.random.default_rng(9)
    tx, ty = rng.uniform(-180, 180, 384), rng.uniform(-90, 90, 384)
    px, py = rng.uniform(-180, 180, 10_000), rng.uniform(-90, 90, 10_000)
    tracemalloc.start()
    try:
        order, svals = sj._knn_topk(px, py, tx, ty, 3)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert order.shape == svals.shape == (10_000, 3)
    assert peak < 3 * 2**20, peak
