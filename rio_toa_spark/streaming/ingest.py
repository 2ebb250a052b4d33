"""Structured Streaming ingest paths.

The reference is batch-only (riomucho over files); streaming here
covers the graft-side ingest patterns a web-scale deployment needs:

* ``stream_pages``: file-source stream of page parquet drops ->
  watermarked dedup on url (late duplicates within the watermark are
  dropped exactly once) -> cell assignment -> partitioned sink.
* ``stream_event_rollup``: tumbling-window aggregation with watermark
  for the events table shape.

Both run with ``trigger(availableNow=True)`` in tests (bounded drain),
and are the same code a continuous deployment would run with a
processing-time trigger. State stores live under the checkpoint dir,
giving exactly-once sinks on restart — the streaming complement of
plans/manifest.py for unbounded inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rio_toa_spark.operators.spatial_join import cell_expr

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, "
    "lang string, lat double, lon double"
)


def stream_pages(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    level: int = 6,
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """Ingest page drops: dedup by url within the watermark, assign the
    Z-order cell, write parquet partitioned by cell bucket."""
    raw = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    deduped = (
        raw.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
        .withColumn("cell", cell_expr(F.col("lon"), F.col("lat"), level))
        .withColumn("cell_bucket", F.pmod(F.col("cell"), F.lit(64)))
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("cell_bucket")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_rollup(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Watermarked tumbling-window rollup of the events shape:
    (window, event_type) -> count + value sum."""
    raw = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    agg = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


TILES_SCHEMA = (
    "scene_id string, band int, tile_row int, tile_col int, "
    "width int, height int, nodata int, "
    "bounds_w double, bounds_s double, bounds_e double, bounds_n double, "
    "pixels binary"
)


def stream_toa_radiance(
    spark: SparkSession,
    tiles_source_dir: str,
    scenes_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    band: int = 5,
    available_now: bool = True,
    tiles_schema=None,
    **toa_kwargs,
):
    """Incremental TOA: tile-row drops (new scenes landing) stream
    through the UNCHANGED batch radiance operator via foreachBatch —
    the scenes dim stays a broadcast stream-static join and the Arrow
    kernel is bitwise-identical to batch. foreachBatch alone is only
    at-least-once, so each micro-batch OVERWRITES its own
    batch_id=<id> partition directory: a batch replayed after a crash
    between the parquet write and the checkpoint commit rewrites the
    same directory instead of appending duplicates — idempotent, hence
    exactly-once end to end. The explicit schema (engine tile shape)
    means the stream starts fine on an empty landing directory."""
    import os

    from rio_toa_spark.operators import toa

    raw = (
        spark.readStream.schema(tiles_schema or TILES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(tiles_source_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = toa.radiance_tiles(batch_df, scenes_df, band=band, **toa_kwargs)
        (
            out.write.mode("overwrite")
            .partitionBy("scene_id")
            .parquet(os.path.join(sink_dir, "batch_id=%d" % batch_id))
        )

    writer = (
        raw.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


MEDIA_SCHEMA = "media_id long, payload binary"


def stream_media_features(
    spark: SparkSession,
    media_source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    thumb: int = 8,
    available_now: bool = True,
    media_schema: str = MEDIA_SCHEMA,
):
    """Incremental multimodal curation: media-payload drops (new crawl
    shards landing) stream through the UNCHANGED batch decode ->
    resize -> features operators via foreachBatch — row-local
    Arrow kernel chains, so a micro-batch is exactly the batch plan on
    fewer rows, decode_status provenance included. Same idempotence
    scheme as stream_toa_radiance: each micro-batch OVERWRITES its own
    batch_id=<id> directory, so an at-least-once replay after a crash
    rewrites instead of duplicating — exactly-once end to end."""
    import os

    from rio_toa_spark.operators.multimodal import (
        decode_image,
        image_features,
        resize_image,
    )

    raw = (
        spark.readStream.schema(media_schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(media_source_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = image_features(
            resize_image(decode_image(batch_df), out_h=thumb, out_w=thumb)
        )
        out.write.mode("overwrite").parquet(
            os.path.join(sink_dir, "batch_id=%d" % batch_id)
        )

    writer = (
        raw.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
