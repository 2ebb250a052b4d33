"""Spatial join + tiling operators over web-page points and raster
footprints — the graft layer required by the north rule (no reference
counterpart; BASELINE.json north_rule / SURVEY.md §2.3 J3).

Design:

* Every point gets ONE level-L cell id; every footprint explodes into
  its (few) covering cells. The equi-join on cell is the prune step
  Catalyst can plan natively; an exact inclusive bbox predicate is the
  refine step. Because a point has exactly one cell, the cell join
  introduces no duplicate (point, footprint) pairs — no dedup pass.
* Two physical strategies, proven result-identical in tests:
    - 'broadcast' (default): broadcast the exploded footprint side;
      zero shuffle on the page side. Right whenever footprints fit the
      broadcast threshold (scenes/tiles are dimension-sized even at
      100 TB of pages).
    - 'salted': shuffle hash join with the page side salted on
      pmod(xxhash64(url), S) and the footprint side replicated S ways.
      The explicit skew treatment for hot cells when the footprint
      side outgrows broadcast; AQE skew-join remains on as backstop.
* kNN page->tile: broadcast tile centroids into an Arrow batch kernel
  (exact, vectorized) or cell-ring candidate expansion + windowed
  row_number for the non-broadcastable case. Deterministic
  tie-breaking on (distance, tile_id).

The cell id is Morton (Z-order), computed by *native Spark SQL bit
arithmetic* — no UDF on the hot path — so range-partitioning by cell
id clusters spatially (Z-order locality) and Catalyst can fold/push
the expression.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rio_toa_spark.operators import map_arrow, numpy_view, take
from rio_toa_spark.spatial import cells as cell_mod

DEFAULT_LEVEL = cell_mod.DEFAULT_LEVEL


# ---------------------------------------------------------------- cells


def _grid_sql(coord: str, level: int, lat: bool = False) -> str:
    """SQL text of a coordinate's clamped level-L grid index — the
    same double ops as cells.grid_xy, so SQL and numpy agree."""
    n = 1 << level
    origin, extent = (-90.0, 180.0) if lat else (-180.0, 360.0)
    return "GREATEST(0, LEAST(%d, FLOOR((%s - (%rD)) / %rD * %d)))" % (n - 1, coord, origin, extent, n)


def _morton_sql(x: str, y: str) -> str:
    """SQL text of the Morton code of two grid indices — the bit spread
    of cells._part1by1. Each spread step names its input twice (16
    copies in all), so pass column or lambda names, not expressions."""

    def spread(v: str) -> str:
        v = "(%s & 65535)" % v
        for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
            v = "((%s | (%s << %d)) & %d)" % (v, v, shift, mask)
        return v

    return "(%s | (%s << 1))" % (spread(x), spread(y))


def _rect_cells_sql(x0: str, x1: str, y0: str, y1: str) -> str:
    """SQL text of the array of Morton cells in a grid-index rectangle
    (bounds inclusive), built in native higher-order functions."""
    return "flatten(transform(sequence(%s, %s), _x -> transform(sequence(%s, %s), _y -> %s)))" % (
        x0, x1, y0, y1, _morton_sql("_x", "_y"),
    )


def cell_expr(lon: str, lat: str, level: int = DEFAULT_LEVEL) -> str:
    """SQL text of a point's Morton cell id — bit-identical to
    cells.cell_of_points. It repeats the grid-index text 16 times per
    axis; use ``with_cell`` to key a table, which projects the grid
    indices first."""
    return _morton_sql(_grid_sql(lon, level), _grid_sql(lat, level, lat=True))


def with_cell(df: DataFrame, lon: str = "lon", lat: str = "lat", level: int = DEFAULT_LEVEL, out: str = "cell") -> DataFrame:
    """``df`` plus its points' Morton cell ids in column ``out``."""
    return (
        df.selectExpr("*", "%s AS _gx" % _grid_sql(lon, level), "%s AS _gy" % _grid_sql(lat, level, lat=True))
        .withColumn(out, F.expr(_morton_sql("_gx", "_gy")))
        .drop("_gx", "_gy")
    )


def cell_parent_expr(cell: Column, levels: int = 1) -> Column:
    """Native-SQL ancestor cell id: Morton parents are bit shifts
    (cells.cell_parent), so hierarchy rollups stay inside Catalyst."""
    return F.shiftright(cell, 2 * levels)


# ----------------------------------------------------------- footprints


def scene_footprints(scenes_df: DataFrame) -> DataFrame:
    """scene_id + WGS84 bbox from MTL corner products (the columnar
    form of rio_toa/toa_utils.py:111-118)."""
    from rio_toa_spark.operators.toa import prepare_scenes

    pm = "mtl.L1_METADATA_FILE.PRODUCT_METADATA.CORNER_%s_%s_PRODUCT"

    def corners(agg: str, axis: str, out: str) -> str:
        return "%s(%s) AS %s" % (agg, ", ".join(pm % (c, axis) for c in ("LL", "LR", "UR", "UL")), out)

    return prepare_scenes(scenes_df).selectExpr(
        "scene_id",
        corners("least", "LON", "fw"),
        corners("least", "LAT", "fs"),
        corners("greatest", "LON", "fe"),
        corners("greatest", "LAT", "fn"),
    )


def tile_footprints(tiles_df: DataFrame) -> DataFrame:
    """Distinct tile geometries (band-independent) with a stable
    sortable tile_id."""
    return (
        tiles_df.selectExpr(
            "scene_id", "tile_row", "tile_col", "bounds_w AS fw", "bounds_s AS fs", "bounds_e AS fe", "bounds_n AS fn"
        )
        .dropDuplicates(["scene_id", "tile_row", "tile_col"])
        .selectExpr("*", "concat_ws('/', scene_id, tile_row, tile_col) AS tile_id")
    )


def _cover_sql(w: str, s: str, e: str, n: str, level: int) -> str:
    """SQL text of one row per cell covering the bbox (w, s, e, n):
    its cells form a contiguous grid-index rectangle."""
    return "explode(%s) AS cell" % _rect_cells_sql(
        _grid_sql(w, level), _grid_sql(e, level), _grid_sql(s, level, lat=True), _grid_sql(n, level, lat=True)
    )


def _explode_cover(footprints: DataFrame, level: int) -> DataFrame:
    """footprint (fw, fs, fe, fn) -> one row per covering cell, in
    native SQL (no Python on this side either)."""
    return footprints.selectExpr("*", _cover_sql("fw", "fs", "fe", "fn", level))


def pip_join(
    points_df: DataFrame,
    footprints_df: DataFrame,
    level: int = DEFAULT_LEVEL,
    strategy: str = "broadcast",
    salt: int = 8,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Point-in-footprint inner join.

    Returns the point columns + the footprint id columns (everything in
    footprints_df except fw/fs/fe/fn). Inclusive boundaries, matching
    the DuckDB oracle's BETWEEN semantics.
    """
    pts = with_cell(points_df, lon, lat, level)
    cover = _explode_cover(footprints_df, level)
    refine = "%s BETWEEN fw AND fe AND %s BETWEEN fs AND fn" % (lon, lat)

    if strategy == "broadcast":
        joined = pts.join(F.broadcast(cover), "cell").where(refine)
    elif strategy == "salted":
        salted_pts = pts.withColumn("_salt", F.pmod(F.xxhash64(F.col(lon), F.col(lat)), F.lit(salt)))
        replicated = cover.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        joined = salted_pts.join(replicated, ["cell", "_salt"]).where(refine).drop("_salt")
    else:
        raise ValueError("unknown strategy %r" % strategy)

    return joined.drop("cell", "fw", "fs", "fe", "fn")


# ------------------------------------------------------------------ kNN


def knn_join(
    points_df: DataFrame,
    tiles_df: DataFrame,
    k: int = 3,
    strategy: str = "broadcast",
    level: int = DEFAULT_LEVEL,
    ring_radius: int = 2,
    lon: str = "lon",
    lat: str = "lat",
    point_key: str = "url",
) -> DataFrame:
    """k nearest tile centroids per point (euclidean in degrees),
    deterministic tie-break on (distance, tile_id).

    'broadcast': exact brute-force against broadcast centroids inside
    an Arrow kernel — the right plan while tiles are dimension-sized.
    'cells': cell-ring candidate expansion + window row_number — the
    shuffle-based plan for a non-broadcastable tile side; rings expand
    until the k-th candidate's distance is provably covered
    (ring r guarantees all tiles within (r) cells; a candidate set is
    complete once kth_dist <= r * min_cell_extent).
    """
    tiles = tile_footprints(tiles_df).selectExpr("tile_id", "(fw + fe) / 2 AS cx", "(fs + fn) / 2 AS cy")
    return knn_centroids(
        points_df, tiles, k=k, strategy=strategy, level=level,
        ring_radius=ring_radius, lon=lon, lat=lat, point_key=point_key,
    )


def knn_centroids(
    points_df: DataFrame,
    centroids_df: DataFrame,
    k: int = 3,
    strategy: str = "broadcast",
    level: int = DEFAULT_LEVEL,
    ring_radius: int = 2,
    lon: str = "lon",
    lat: str = "lat",
    point_key: str = "url",
) -> DataFrame:
    """kNN against an arbitrary (tile_id, cx, cy) centroid table. A
    point whose lon or lat is null has no neighbours under either
    strategy: it is dropped before the strategy runs."""
    points_df = points_df.where("%s IS NOT NULL AND %s IS NOT NULL" % (lon, lat))
    if strategy == "broadcast":
        return _knn_broadcast(points_df, centroids_df, k, lon, lat, point_key)
    if strategy == "cells":
        return _knn_cells(points_df, centroids_df, k, level, ring_radius, lon, lat, point_key)
    raise ValueError("unknown strategy %r" % strategy)


# Point-block budget of the broadcast kNN kernel, in elements of one
# (block x centroids) float64 temporary: 2^16 elements = 512 KiB, so
# the distance block and its argpartition index stay L2-resident
# across every pass over them. An Arrow batch of ~10k points against T
# centroids would otherwise materialize an (n x T) distance matrix
# (~0.5 GB at T=6k) and stream it through six elementwise + selection
# passes from DRAM. A floor of 32 points keeps the per-block numpy
# call overhead small when T is large.
KNN_BLOCK_ELEMS = 1 << 16


def _knn_topk(px, py, tx, ty, k):
    """The k nearest centroids of every point, exact: (n x kk) indices
    into (tx, ty) in (d^2, index) order and their squared distances,
    kk = min(k, len(tx)). Points go through in blocks of
    KNN_BLOCK_ELEMS // len(tx) (at least 32) into preallocated
    outputs. Bitwise-neutral: every op is row-local, so blocking
    changes no IEEE result."""
    T = len(tx)
    kk = min(k, T)
    m = min(4 * kk, T - 1)
    bs = max(32, KNN_BLOCK_ELEMS // T)
    n = len(px)
    order = np.empty((n, kk), dtype=np.intp)
    svals = np.empty((n, kk))
    for s in range(0, n, bs):
        order[s : s + bs], svals[s : s + bs] = _knn_block(
            px[s : s + bs], py[s : s + bs], tx, ty, kk, m
        )
    return order, svals


def _knn_block(px, py, tx, ty, kk, m):
    """Top-kk centroids of one point block (see _knn_topk); m is the
    argpartition pivot, 4 * kk capped at T - 1."""
    T = len(tx)
    # squared distance in place; rank on d^2 (monotone), take sqrt
    # only of the k selected values -- sqrt(d^2) is the identical IEEE
    # double as sorting on d
    d2 = px[:, None] - tx[None, :]
    d2 *= d2
    dy = py[:, None] - ty[None, :]
    dy *= dy
    d2 += dy
    del dy
    # top-k via argpartition (O(T)) instead of a full row sort
    # (O(T log T), 3x slower at T=384); deterministic (dist, tile_id)
    # order restored by a lexsort of the slice.
    part = np.argpartition(d2, m, axis=1)[:, : m + 1]
    vals = np.take_along_axis(d2, part, axis=1)
    fix = np.lexsort((part, vals), axis=1)[:, :kk]
    order = np.take_along_axis(part, fix, axis=1)
    svals = np.take_along_axis(vals, fix, axis=1)
    # exactness guard: if the kth value reaches the slice's max, ties
    # may extend past the partition window -- redo those rows with the
    # full stable sort
    if m + 1 < T:
        slice_max = vals.max(axis=1)
        risky = np.nonzero(svals[:, kk - 1] >= slice_max)[0]
        if risky.size:
            full = np.lexsort(
                (np.broadcast_to(np.arange(T), (risky.size, T)), d2[risky]),
                axis=1,
            )[:, :kk]
            order[risky] = full
            svals[risky] = np.take_along_axis(d2[risky], full, axis=1)
    return order, svals


def _knn_broadcast(points_df, tiles, k, lon, lat, point_key):
    spark = points_df.sparkSession
    # project BEFORE the opaque kernel: Spark cannot see which columns
    # a Python kernel touches and would ship (and scan) every page column —
    # including the ~0.5 KB html payloads — through Arrow into Python
    # (guide rule; measured 2.1 s -> 1.0 s on the 400k-page bench).
    # knn_centroids dropped the points without coordinates, so the
    # kernel reads them as null-free numpy views.
    points_df = points_df.select(point_key, lon, lat)
    # Spark's ascending tile_id order, sorted on the driver: nulls
    # first, then code-point order (which is Spark's UTF-8 byte order)
    tile_rows = sorted(tiles.collect(), key=lambda r: (r.tile_id is not None, r.tile_id or ""))
    ids = pa.array([r.tile_id for r in tile_rows], pa.string())
    cx = np.array([r.cx for r in tile_rows])
    cy = np.array([r.cy for r in tile_rows])
    bc = spark.sparkContext.broadcast((ids, cx, cy))

    out_schema = T.StructType(
        [
            points_df.schema[point_key],
            T.StructField("tile_id", T.StringType()),
            T.StructField("dist", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )

    def run(batches):
        tids, tx, ty = bc.value
        if not len(tids):  # no centroids -> no neighbors (not an error)
            return
        for batch in batches:
            px = numpy_view(batch.column(lon))
            py = numpy_view(batch.column(lat))
            n = len(px)
            if not n:
                continue
            order, svals = _knn_topk(px, py, tx, ty, k)
            kk = order.shape[1]
            yield {
                point_key: take(batch.column(point_key), np.repeat(np.arange(n), kk)),
                "tile_id": take(tids, order.ravel()),
                "dist": np.sqrt(svals).ravel(),
                "rank": np.tile(np.arange(1, kk + 1), n),
            }

    return map_arrow(points_df, run, out_schema)


def _knn_cells(points_df, tiles, k, level, radius, lon, lat, point_key):
    """Cell-ring candidate generation + windowed top-k, with an exact
    fallback for incomplete points.

    Each tile is replicated into every cell within Chebyshev radius R
    of its centroid's cell; points equi-join on their own cell, then a
    (point) window takes the top-k by (dist, tile_id). Completeness
    proof: a tile whose centroid cell is Chebyshev-further than R from
    the point's cell is at least R*min(cell_dx, cell_dy) degrees away,
    so a point's ring result is provably exact iff it found >= k
    candidates AND its kth distance < R*min(dx, dy). Points failing
    either condition (sparse regions — e.g. mid-ocean pages) are
    rerouted through an exact cross-join pass; the union is exact for
    every point. One candidate shuffle + one window shuffle; the
    straggler set is tiny by construction.
    """
    dx, dy = cell_mod.cell_size_degrees(level)
    guard = radius * min(dx, dy)
    n = 1 << level
    pts = with_cell(points_df, lon, lat, level)

    # every cell within Chebyshev radius R of the centroid's cell,
    # clipped to the grid
    gx, gy = _grid_sql("cx", level), _grid_sql("cy", level, lat=True)
    ring = _rect_cells_sql(
        "GREATEST(%s - %d, 0)" % (gx, radius), "LEAST(%s + %d, %d)" % (gx, radius, n - 1),
        "GREATEST(%s - %d, 0)" % (gy, radius), "LEAST(%s + %d, %d)" % (gy, radius, n - 1),
    )
    cand = tiles.selectExpr("tile_id", "cx", "cy", "explode(%s) AS cell" % ring)
    ranked = _top_k(pts.join(cand, "cell"), k, lon, lat, point_key)
    complete_keys = (
        ranked.groupBy(point_key)
        .agg(F.count("*").alias("n"), F.max("dist").alias("kth"))
        .where((F.col("n") == k) & (F.col("kth") < F.lit(guard)))
        .select(point_key)
    )
    exact_part = ranked.join(complete_keys, point_key)
    stragglers = points_df.join(complete_keys, point_key, "left_anti")
    # stragglers get a DISTRIBUTED exact pass (cross join + window) —
    # never _knn_broadcast, which collects the full centroid table to
    # the driver and would crash at exactly the scale that motivates
    # the 'cells' strategy. The straggler side is tiny by construction,
    # so Spark broadcasts it and streams the centroid side map-side;
    # the cost is |stragglers| x |centroids| scored rows.
    pairs = stragglers.select(point_key, lon, lat).crossJoin(tiles.select("tile_id", "cx", "cy"))
    return exact_part.unionByName(_top_k(pairs, k, lon, lat, point_key))


def _top_k(pairs, k, lon, lat, point_key):
    """The k nearest of each point's (point, centroid) candidate pairs:
    a per-point row_number window on (d^2, tile_id), then the distance
    of the kept rows. Ranking on d^2 gives the order of dist up to IEEE
    sqrt rounding collisions (d^2 is strictly more discriminating), and
    the broadcast kernel and the SQL oracles rank on d^2 too."""
    from pyspark.sql.window import Window

    dist2 = (F.col(lon) - F.col("cx")) * (F.col(lon) - F.col("cx")) + (F.col(lat) - F.col("cy")) * (F.col(lat) - F.col("cy"))
    w = Window.partitionBy(point_key).orderBy(F.col("dist2").asc(), F.col("tile_id").asc())
    return (
        pairs.withColumn("dist2", dist2)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            point_key,
            "tile_id",
            F.sqrt(F.col("dist2")).alias("dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ----------------------------------------------------------- partitioning


def repartition_by_cell(df: DataFrame, num_partitions: int | None = None, level: int = DEFAULT_LEVEL, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Explicit range-partitioned shuffle on the Z-order cell id —
    spatially clustered output partitions (north rule: 'explicit
    range-partitioned shuffles')."""
    out = with_cell(df, lon, lat, level, out="_range_cell")
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return out.repartitionByRange(parts, "_range_cell").drop("_range_cell")
