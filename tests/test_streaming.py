"""Stream-static join: the batch ``pip_join`` operator runs unchanged
over a streaming pages source."""

import os

import pyarrow.parquet as pq


def test_pip_join_stream_static(spark, fixture_paths, tmp_path, pages_df, scenes_df):
    """The batch pip_join operator runs unchanged as a stream-static
    join: streaming pages, static (broadcast) footprints — every
    micro-batch output row must equal the batch result."""
    from rio_toa_spark.operators.spatial_join import pip_join, scene_footprints

    src = str(tmp_path / "pips")
    os.makedirs(src)
    table = pq.read_table(fixture_paths["pages"])
    pq.write_table(table.slice(0, 400), os.path.join(src, "p1.parquet"))

    stream = spark.readStream.schema(pages_df.schema).parquet(src)
    out = pip_join(stream, scene_footprints(scenes_df), level=7).select("url", "scene_id")
    q = (
        out.writeStream.format("memory")
        .queryName("pipstream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(r.url, r.scene_id) for r in spark.sql("SELECT * FROM pipstream").collect()}
    batch_pages = spark.read.parquet(os.path.join(src, "p1.parquet"))
    exp = {
        (r.url, r.scene_id)
        for r in pip_join(batch_pages, scene_footprints(scenes_df), level=7)
        .select("url", "scene_id")
        .collect()
    }
    assert got == exp and got
