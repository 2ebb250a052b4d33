"""Sessionization: batch vs DuckDB oracle; streaming stateful operator
emits closed sessions with correct bounds/counts."""

import datetime
import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rio_toa_spark.operators.sessions import (
    SESSIONIZE_ORACLE_SQL,
    sessionize,
    stream_sessionize,
)

SF_DIR = "/root/testdata/sf0.001"


def test_batch_sessionize_matches_duckdb(spark):
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = sorted(tuple(r) for r in sessionize(events, gap_minutes=30).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    exp = sorted(tuple(r) for r in con.sql(SESSIONIZE_ORACLE_SQL.format(gap_s=1800)).fetchall())
    assert len(got) == len(exp)
    assert got == exp


def test_batch_sessionize_gap_boundary(spark):
    base = datetime.datetime(2020, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 10),
        (2, base + datetime.timedelta(minutes=30), 10),  # exactly gap -> same session
        (3, base + datetime.timedelta(minutes=61), 10),  # > gap from #2 -> new session
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = sessionize(df, gap_minutes=30).collect()
    assert sorted((r.session_seq, r.n_events) for r in out) == [(0, 2), (1, 1)]


def test_stream_sessionize_emits_closed_sessions(spark, tmp_path):
    base = datetime.datetime(2020, 5, 1, 8, 0, 0)

    def drop(path, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array(["x"] * len(rows)),
                    "value": pa.array([1.0] * len(rows)),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            path,
        )

    src = str(tmp_path / "drops")
    os.makedirs(src)
    # user 7: 3 events tight, then a 2-hour gap, then 2 events
    rows = [
        (1, base, 7),
        (2, base + datetime.timedelta(minutes=5), 7),
        (3, base + datetime.timedelta(minutes=10), 7),
        (4, base + datetime.timedelta(hours=2, minutes=10), 7),
        (5, base + datetime.timedelta(hours=2, minutes=15), 7),
    ]
    drop(os.path.join(src, "d1.parquet"), rows)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .parquet(src)
    )
    out_dir = str(tmp_path / "out")
    q = (
        stream_sessionize(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # under ProcessingTimeTimeout the stateful operator asks for a
    # no-data batch after every batch (the idle-timeout flush needs
    # them), so an availableNow query never terminates on its own:
    # wait for the data batch to commit, then stop the query
    try:
        deadline = time.monotonic() + 120
        while not any(p["numInputRows"] > 0 for p in q.recentProgress):
            assert time.monotonic() < deadline, "no data batch committed in 120 s"
            time.sleep(0.2)
    finally:
        q.stop()
    assert not q.isActive

    got = spark.read.parquet(out_dir).collect()
    # the first (closed) session must be emitted: 3 events over 10 min
    assert len(got) == 1
    row = got[0]
    assert row.user_id == 7 and row.n_events == 3
    assert (row.session_end - row.session_start).total_seconds() == 600
