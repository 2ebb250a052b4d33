"""Sessionization: batch vs DuckDB oracle and the gap boundary."""

import datetime

import duckdb

from rio_toa_spark.operators.sessions import SESSIONIZE_ORACLE_SQL, sessionize

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
