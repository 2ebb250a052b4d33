"""Physical-plan shape assertions — the scale contract:

* predicate pushdown reaches the parquet scan (PushedFilters),
* column pruning keeps unused payloads out of ReadSchema,
* dimension joins broadcast (no shuffle on the fact side),
* TOA pipelines contain no hash-partition exchange at all,
* relational queries run inside WholeStageCodegen,
* Python kernels see Spark's default Arrow batch bounds.

These are regression guards: a future edit that silently breaks one of
them (e.g. a join that stops broadcasting) fails here, not at 100 TB.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rio_toa_spark.operators import spatial_join as sj
from rio_toa_spark.operators import toa


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_band_filter_pushed_to_scan(spark, tiles_df, scenes_df):
    plan = _plan(toa.radiance_tiles(tiles_df, scenes_df, band=5))
    assert "PushedFilters" in plan
    # the band predicate must reach the parquet reader
    assert "EqualTo(band,5)" in plan.replace(" ", "")


def test_column_pruning_pages(spark, pages_df, scenes_df):
    """Selecting join keys only must drop html/text from the scan."""
    out = sj.pip_join(pages_df, sj.scene_footprints(scenes_df), level=7).select(
        "url", "scene_id"
    )
    plan = _plan(out)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l and "pages" in l]
    assert scan_lines, plan
    assert "html" not in scan_lines[0]
    assert "text" not in scan_lines[0]


def test_toa_pipeline_shuffle_free(spark, tiles_df, scenes_df):
    for df in (
        toa.radiance_tiles(tiles_df, scenes_df, band=5),
        toa.reflectance_tiles(tiles_df, scenes_df, bands=[4], per_pixel_sun=True),
        toa.brightness_temp_tiles(tiles_df, scenes_df, band=10),
    ):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan


def test_pip_broadcast_no_page_shuffle(spark, pages_df, scenes_df):
    plan = _plan(sj.pip_join(pages_df, sj.scene_footprints(scenes_df), level=7))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_pip_salted_shuffles_on_salted_key(spark, pages_df, scenes_df):
    """With broadcast disabled (the regime salting exists for), the
    shuffle key must include the salt so the hot cell spreads."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(
            sj.pip_join(pages_df, sj.scene_footprints(scenes_df), level=7, strategy="salted")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "hashpartitioning" in plan
    assert "_salt" in plan.split("hashpartitioning", 1)[1][:200]


def test_pip_salted_broadcasts_when_dim_is_small(spark, pages_df, scenes_df):
    """At dimension-sized footprints AQE/planner picks broadcast even
    for the salted variant — no page-side shuffle."""
    plan = _plan(
        sj.pip_join(pages_df, sj.scene_footprints(scenes_df), level=7, strategy="salted")
    )
    assert "BroadcastHashJoin" in plan


def test_relational_query_codegen(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    agg.collect()  # finalize AQE
    plan = _plan(agg)
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in plan
    # and aggregation must be partial map-side before the shuffle
    assert "partial_sum" in plan


def test_rgb_stack_single_shuffle(spark, tiles_df, scenes_df):
    """Multiband stack: the groupBy that assembles band planes is the
    ONLY hash-partition exchange in the whole reflectance+stack plan."""
    stacked = toa.stack_bands(
        toa.reflectance_tiles(tiles_df, scenes_df, bands=[4, 3, 2]), bands=[4, 3, 2]
    )
    plan = _plan(stacked)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_lsh_candidates_single_pass_uncached(spark):
    """The MinHash-LSH near-dup path must not cache (no
    InMemoryRelation), must not self-join the signature pipeline, and
    must not end in a distinct(): first-shared-band emission leaves the
    bucket groupBy as the ONLY hash-partition exchange."""
    from rio_toa_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dedup.ngram_jaccard_pairs(docs))
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # only ONE signature computation feeds the plan: a self-join would
    # show two parquet scans of documents
    assert plan.count("Scan parquet") == 1, plan


def test_simhash_single_hash_exchange(spark):
    """SimHash near-dups keep each pair only in the first byte-band its
    two signatures share, so no distinct() follows: the bucket groupBy
    is the ONLY hash-partition exchange."""
    from rio_toa_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dedup.simhash_near_dups(docs, max_hamming=6))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_zonal_partials_single_shuffle(spark, tiles_df, scenes_df):
    """Zonal stats: zones broadcast, pixel kernel map-side; the only
    hash exchange carries the per-pair partial doubles."""
    from rio_toa_spark.operators.zonal import zonal_stats

    zones = sj.scene_footprints(scenes_df).select(
        F.col("scene_id").alias("zone_id"), "fw", "fs", "fe", "fn"
    )
    plan = _plan(zonal_stats(tiles_df, zones))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cell_expr_is_native(spark, pages_df):
    """The Morton cell id must be pure Catalyst expressions (no
    BatchEvalPython / ArrowEvalPython nodes), and the grid indices are
    computed once each: the bit spread names its input 16 times, so a
    spread over the unprojected FLOOR would repeat it."""
    df = sj.with_cell(pages_df, level=7).select("cell")
    plan = _plan(df)
    assert "EvalPython" not in plan
    optimized = _optimized(df)
    assert optimized.upper().count("FLOOR(") <= 2, optimized


def test_fixture_row_groups_splittable(fixture_paths):
    """Fixture parquet must carry multiple row groups so big scans
    split into parallel tasks (a single row group collapses the whole
    TOA pipeline into one task — seen and fixed in round 1)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(fixture_paths["tiles"])
    assert md.num_row_groups >= 2


def test_value_histogram_partials_before_shuffle(spark, tiles_df, scenes_df):
    # the per-value partial aggregate must run map-side (partial
    # HashAggregate before the exchange) so the shuffle width is
    # bounded by the value domain, not the pixel count
    from rio_toa_spark.operators import toa

    hist = toa.value_histogram(
        toa.radiance_tiles(tiles_df, scenes_df, band=5, clip=False)
    )
    plan = hist._jdf.queryExecution().executedPlan().toString()
    first_exchange = plan.index("Exchange hashpartitioning")
    assert "HashAggregate" in plan[first_exchange:]  # final agg after shuffle
    assert "HashAggregate" in plan[:first_exchange]  # partial agg before it


def test_media_pipelines_shuffle_free(spark):
    """The multimodal chains (decode -> resize -> features; decode ->
    audio features; container -> frame sampling) are pure row-local
    Arrow kernel stages: their physical plans must contain NO exchange
    of any kind — the property that lets the media path scale linearly
    with input splits at 100 TB (binary payloads never shuffle)."""
    from rio_toa_spark.operators import multimodal as mm

    df = spark.createDataFrame([(1, b"\x00payload")], "media_id long, payload binary")
    img_chain = mm.image_features(mm.resize_image(mm.decode_image(df)))
    audio_chain = mm.audio_features(mm.decode_audio(df))
    frames_chain = mm.sample_video_frames(df, n_frames=2)
    for chain in (img_chain, audio_chain, frames_chain):
        plan = _plan(chain)
        assert "Exchange" not in plan, plan


def test_kernels_cross_into_python_as_arrow(spark, tiles_df, scenes_df, pages_df):
    """Every operator kernel runs over mapInArrow (or applyInArrow):
    no physical plan holds a pandas map or grouped-map node. The one
    exception is the MinHash signature stage of ngram_jaccard_pairs,
    which stays on mapInPandas."""
    from rio_toa_spark.operators import dedup, similarity
    from rio_toa_spark.operators import multimodal as mm
    from rio_toa_spark.operators.zonal import dn_histogram, zonal_stats

    pandas_nodes = ("MapInPandas", "FlatMapGroupsInPandas")
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.limit(2).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    media = spark.createDataFrame([(1, b"\x00payload")], "media_id long, payload binary")
    rad = toa.radiance_tiles(tiles_df, scenes_df, band=5)
    zones = sj.scene_footprints(scenes_df).select(
        F.col("scene_id").alias("zone_id"), "fw", "fs", "fe", "fn"
    )
    arrow_plans = {
        "knn broadcast": sj.knn_join(pages_df, tiles_df, k=2),
        "cosine_topk": similarity.cosine_topk(emb, queries, k=3),
        "cosine_topk_ivf": similarity.cosine_topk_ivf(emb, queries, k=3, n_centroids=2, n_probe=1),
        "image chain": mm.image_features(mm.resize_image(mm.decode_image(media))),
        "audio chain": mm.audio_features(mm.decode_audio(media)),
        "frames chain": mm.sample_video_frames(media, n_frames=2),
        "tile_stats": toa.tile_stats(rad),
        "value_histogram": toa.value_histogram(rad),
        "dn_histogram": dn_histogram(tiles_df),
        "zonal_stats": zonal_stats(tiles_df, zones),
        "mosaic_scene": toa.mosaic_scene(tiles_df),
    }
    for name, df in arrow_plans.items():
        plan = _plan(df)
        assert "InArrow" in plan, (name, plan)
        assert not any(n in plan for n in pandas_nodes), (name, plan)

    docs = spark.createDataFrame(
        [(i, "the quick brown fox %d jumps" % i) for i in range(8)], "doc_id long, text string"
    )
    plan = _plan(dedup.ngram_jaccard_pairs(docs))
    assert plan.count("MapInPandas") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_ivf_centroid_sample_is_a_capped_top_n(spark, monkeypatch):
    """The IVF centroid sample is the smallest keys of the non-NULL
    corpus, read on the driver through one capped TakeOrderedAndProject:
    no Sample node (a fraction-1.0 Sample is a no-op scan step), neither
    in that read nor in the search plan."""
    from rio_toa_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.limit(2).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    read_plans = []
    to_arrow = type(emb).toArrow

    def spy(df):
        read_plans.append(_plan(df))
        return to_arrow(df)

    monkeypatch.setattr(type(emb), "toArrow", spy)
    out = similarity.cosine_topk_ivf(emb, queries, k=3, n_centroids=2, n_probe=1)
    for plan in read_plans + [_plan(out)]:
        assert "Sample" not in plan, plan
    sample_plans = [p for p in read_plans if "TakeOrderedAndProject" in p]
    assert len(sample_plans) == 1, read_plans
    assert "isnotnull(embedding" in sample_plans[0], sample_plans[0]


def test_map_arrow_cast_raises_on_overflow(spark):
    """map_arrow casts each yielded dict to the Spark schema with a
    checked cast: an int64 value that does not fit an IntegerType
    column fails the job instead of wrapping."""
    from rio_toa_spark.operators import map_arrow

    def kernel(batches):
        for b in batches:
            yield {"x": b.column("id").to_numpy() + (1 << 40)}

    with pytest.raises(Exception, match="ArrowInvalid"):
        map_arrow(spark.range(3, numPartitions=1), kernel, T.StructType.fromDDL("x int")).collect()
    ok = map_arrow(spark.range(3, numPartitions=1), kernel, T.StructType.fromDDL("x long"))
    assert sorted(r.x for r in ok.collect()) == [(1 << 40) + i for i in range(3)]


def _arrow_batch_shapes(df):
    """(rows, bytes) of every Arrow batch a Python kernel receives."""
    import pyarrow as pa

    def probe(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"rows": [b.num_rows], "nbytes": [b.nbytes]})

    return [(r.rows, r.nbytes) for r in df.mapInArrow(probe, "rows long, nbytes long").collect()]


def test_arrow_batch_byte_bound_tile_rows(spark):
    """The engine sets no Arrow batch size: on half-MiB tile rows the
    64 MiB default (spark.sql.execution.arrow.maxBytesPerBatch) bounds
    every batch. Spark closes a batch at the row that reaches the
    bound, so the check allows one row over it."""
    row = 1 << 19
    limit = 64 << 20
    assert spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch") == "%db" % limit
    tiles = spark.range(200, numPartitions=1).select(
        F.expr("cast(repeat('x', %d) as binary)" % row).alias("payload")
    )
    shapes = _arrow_batch_shapes(tiles)
    assert sum(r for r, _ in shapes) == 200
    assert len(shapes) > 1
    assert max(b for _, b in shapes) <= limit + row + 1024


def test_arrow_batch_record_bound_small_rows(spark):
    """On small rows the 10,000-record default binds, so page- and
    embedding-sized kernels get large numpy batches without any
    coalescing of their own."""
    shapes = _arrow_batch_shapes(spark.range(25_000, numPartitions=1))
    assert max(r for r, _ in shapes) == 10_000


_DRIVER_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from rio_toa_spark.session import get_spark
from rio_toa_spark.operators.spatial_join import pip_join

spark = get_spark(master="local[2]", extra_conf={"spark.driver.memory": "1g"})
pts = spark.createDataFrame(
    [("a", 1.0, 1.0), ("b", 50.0, 50.0)], "url string, lon double, lat double"
)
fps = spark.createDataFrame(
    [("s", 0.0, 0.0, 2.0, 2.0)], "scene_id string, fw double, fs double, fe double, fn double"
)
rows = [(r.url, r.scene_id) for r in pip_join(pts, fps).collect()]
print(json.dumps({
    "rows": rows,
    "ipython": "IPython" in sys.modules,
    "debugging": spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"),
}))
spark.stop()
"""


def test_driver_skips_call_site_capture():
    """A fresh driver that builds and runs a pip_join never imports
    IPython: the session turns PySpark's per-call call-site capture
    off (it imports IPython on first use and walks the stack on every
    DataFrame call)."""
    import importlib.util
    import json
    import os
    import subprocess
    import sys

    if importlib.util.find_spec("IPython") is None:
        pytest.skip("IPython is not installed, so it cannot be imported either")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER_PROBE, root],
        capture_output=True, text=True, timeout=600, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"rows": [["a", "s"]], "ipython": False, "debugging": "false"}
