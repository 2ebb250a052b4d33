"""Gap-based sessionization over the events table shape.

``sessionize`` builds sessions with a window lag + running sum in pure
Spark SQL; ``SESSIONIZE_ORACLE_SQL`` is its exact DuckDB twin (the
``sessionize`` driver query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_GAP_MIN = 30


def _epoch(col):
    # parquet timestamps may arrive as TIMESTAMP_NTZ; cast through
    # TIMESTAMP (session tz = UTC) to get epoch seconds
    return col.cast("timestamp").cast("long")


def sessionize(events_df: DataFrame, gap_minutes: int = DEFAULT_GAP_MIN) -> DataFrame:
    """Batch gap sessionization: one row per (user, session) with
    start/end/event count. session boundary = gap > gap_minutes."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap_s = gap_minutes * 60
    marked = events_df.withColumn(
        "_new",
        F.when(
            _epoch(F.col("ts")) - F.lag(_epoch(F.col("ts"))).over(w) > gap_s, 1
        ).otherwise(0),
    ).withColumn("session_seq", F.sum("_new").over(w))
    return (
        marked.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("int").alias("session_seq"),
            "n_events",
            F.col("session_start").cast("string").alias("session_start"),
            F.col("session_end").cast("string").alias("session_end"),
        )
    )


SESSIONIZE_ORACLE_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id,
    -- CAST(floor(epoch(..))) mirrors Spark's cast(ts as long), which
    -- TRUNCATES sub-second components; DuckDB's epoch() returns
    -- fractional seconds, so without the floor the two engines could
    -- split sessions differently when a gap lands within 1s of the
    -- threshold.
    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > {gap_s} THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), seq AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM marked
)
SELECT user_id, CAST(session_seq AS INTEGER) AS session_seq,
  COUNT(*) AS n_events,
  CAST(MIN(ts) AS VARCHAR) AS session_start,
  CAST(MAX(ts) AS VARCHAR) AS session_end
FROM seq GROUP BY user_id, session_seq
"""
