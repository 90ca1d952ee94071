"""As-of join + sessionization/tumbling operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.asof import asof_join
from data_ingestion_resolution_platform_spark.operators.sessions import (
    session_stats,
    sessionize,
    tumbling_agg,
)


def _ts(s):
    return F.lit(s).cast("timestamp")


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:05", 1),
            ("A", "2024-01-01 10:00:10", 2),
            ("A", "2024-01-01 09:00:00", 3),  # before any quote
            ("B", "2024-01-01 10:00:07", 4),
        ],
        "sym string, t string, trade_id int",
    ).withColumn("t", F.col("t").cast("timestamp"))
    quotes = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:00", 100.0),
            ("A", "2024-01-01 10:00:05", 101.0),  # equal ts → visible
            ("A", "2024-01-01 10:00:09", 102.0),
            ("B", "2024-01-01 10:00:30", 200.0),  # after B's only trade
        ],
        "sym string, qt string, px double",
    ).withColumn("qt", F.col("qt").cast("timestamp"))
    return trades, quotes


def test_asof_backward(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt", right_cols=["px", "qt"]
    )
    got = {r.trade_id: r.px for r in out.collect()}
    assert got == {1: 101.0, 2: 102.0, 3: None, 4: None}


def test_asof_forward(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt",
        right_cols=["px"], direction="forward",
    )
    got = {r.trade_id: r.px for r in out.collect()}
    # forward: first quote at-or-after the trade
    assert got == {1: 101.0, 2: None, 3: 100.0, 4: 200.0}


def test_asof_tolerance(trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt",
        right_cols=["px"], tolerance=F.lit(1),
    )
    got = {r.trade_id: r.px for r in out.collect()}
    # 1-second tolerance: only exact/1s-old quotes survive
    assert got == {1: 101.0, 2: 102.0, 3: None, 4: None}


def test_asof_null_timestamps_never_match(spark):
    """NULL right timestamps must not match (DuckDB ASOF l.ts >= r.ts is
    NULL-false); NULL-ts left rows pass through unmatched."""
    trades = spark.createDataFrame(
        [("A", "2024-01-01 10:00:05", 1), ("A", None, 2)],
        "sym string, t string, trade_id int",
    ).withColumn("t", F.col("t").cast("timestamp"))
    quotes = spark.createDataFrame(
        [("A", None, 99.0), ("A", "2024-01-01 10:00:00", 100.0)],
        "sym string, qt string, px double",
    ).withColumn("qt", F.col("qt").cast("timestamp"))
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt", right_cols=["px"]
    )
    got = {r.trade_id: r.px for r in out.collect()}
    # trade 1 matches the real quote (never the NULL-ts one); trade 2
    # (NULL left ts) comes out unmatched rather than dropped
    assert got == {1: 100.0, 2: None}


def test_asof_no_cross_join(trades_quotes, spark):
    trades, quotes = trades_quotes
    plan = asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt", right_cols=["px"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),   # same session (gap 10m < 30m)
            (1, "2024-01-01 11:00:00"),   # new session (gap 50m)
            (2, "2024-01-01 10:00:00"),
        ],
        "uid bigint, t string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    s = sessionize(df, ["uid"], "t", 1800)
    seqs = {(r.uid, str(r.t)): r.session_seq for r in s.collect()}
    assert seqs[(1, "2024-01-01 10:00:00")] == 1
    assert seqs[(1, "2024-01-01 10:10:00")] == 1
    assert seqs[(1, "2024-01-01 11:00:00")] == 2
    assert seqs[(2, "2024-01-01 10:00:00")] == 1
    st = session_stats(df, ["uid"], "t", 1800)
    rows = {(r.uid, r.session_seq): r for r in st.collect()}
    assert rows[(1, 1)].n_events == 2 and rows[(1, 1)].duration_secs == 600.0
    assert rows[(1, 2)].n_events == 1


def test_session_window_agg_matches_sessionize(spark):
    """F.session_window gap-merge == lag+cumsum sessionize, including
    the exact-gap boundary (an event exactly `gap` seconds after the
    previous one)."""
    from data_ingestion_resolution_platform_spark.operators.sessions import (
        session_stats,
        session_window_agg,
    )

    rows = [
        ("u1", "2024-01-01 10:00:00"),
        ("u1", "2024-01-01 10:10:00"),
        ("u1", "2024-01-01 10:40:00"),  # exactly 1800s after previous
        ("u1", "2024-01-01 12:00:00"),  # new session
        ("u2", "2024-01-01 09:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    native = {
        (r.user_id, r.w_start, r.n_events)
        for r in session_window_agg(ev, ["user_id"], "ts", 1800).collect()
    }
    lagged = {
        (r.user_id, r.session_start, r.n_events)
        for r in session_stats(ev, ["user_id"], "ts", 1800).collect()
    }
    assert native == lagged


def test_tumbling(spark):
    df = spark.createDataFrame(
        [("2024-01-01 10:00:01", "a"), ("2024-01-01 10:59:59", "a"),
         ("2024-01-01 11:00:00", "a"), ("2024-01-01 10:30:00", "b")],
        "t string, k string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    out = tumbling_agg(df, "t", 3600, group_cols=["k"])
    got = {(str(r.w_start), r.k): r.n_events for r in out.collect()}
    assert got == {
        ("2024-01-01 10:00:00", "a"): 2,
        ("2024-01-01 11:00:00", "a"): 1,
        ("2024-01-01 10:00:00", "b"): 1,
    }
