"""Epoch status state machine (M7/A7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline


def _feed(spark, rows):
    return spark.createDataFrame(
        rows, "lsn long, op string, ts timestamp, repo string, path string, "
        "commit string, lang string, content string"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))


def test_epoch_status_needs_review_vs_completed(spark, tmp_path):
    pipe = CDCPipeline(spark, feed_dir="x", warehouse=str(tmp_path / "wh"))
    # epoch 0: same key, two different contents ⇒ conflict ⇒ NEEDS_REVIEW
    conflicted = _feed(spark, [
        (1, "I", None, "r1", "a.py", "c1", "py", "v1"),
        (2, "U", None, "r1", "a.py", "c2", "py", "v2"),
    ])
    st0 = pipe.process_batch(conflicted, 0)
    assert st0["status"] == "NEEDS_REVIEW" and st0["conflicts"] == 1
    # epoch 1: unique keys ⇒ COMPLETED
    clean = _feed(spark, [
        (3, "I", None, "r2", "b.py", "c3", "py", "v3"),
        (4, "I", None, "r3", "c.py", "c4", "py", "v4"),
    ])
    st1 = pipe.process_batch(clean, 1)
    assert st1["status"] == "COMPLETED" and st1["conflicts"] == 0
    # status history is queryable from the lineage table
    lin = pipe.lineage.read()
    statuses = {
        r.epoch: r.status for r in lin.filter(F.col("partition_id") == -1).collect()
    }
    assert statuses == {0: "NEEDS_REVIEW", 1: "COMPLETED"}


def test_epoch_failure_writes_failed_row(spark, tmp_path, monkeypatch):
    pipe = CDCPipeline(spark, feed_dir="x", warehouse=str(tmp_path / "wh"))

    def boom(*a, **k):
        raise RuntimeError("injected merge failure")

    monkeypatch.setattr(pipe.target, "merge", boom)
    feed = _feed(spark, [(1, "I", None, "r1", "a.py", "c1", "py", "v1")])
    with pytest.raises(RuntimeError, match="injected"):
        pipe.process_batch(feed, 0)
    lin = pipe.lineage.read().filter(F.col("partition_id") == -1)
    assert [r.status for r in lin.collect()] == ["FAILED"]
    # the target epoch was NOT committed ⇒ redelivery reprocesses it
    assert not pipe.target.epoch_committed(0)


def test_failed_epoch_recovers_on_retry(spark, tmp_path, monkeypatch):
    """At-least-once redelivery: a FAILED attempt followed by a
    successful retry must surface the terminal status, not stay frozen
    at FAILED (the FAILED row is written unledgered so the retry's
    summary append is not swallowed by the exactly-once guard)."""
    from data_ingestion_resolution_platform_spark.streaming.lineage import status_history

    pipe = CDCPipeline(spark, feed_dir="x", warehouse=str(tmp_path / "wh"))
    real_merge = pipe.target.merge
    calls = {"n": 0}

    def flaky(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient failure")
        return real_merge(*a, **k)

    monkeypatch.setattr(pipe.target, "merge", flaky)
    feed = _feed(spark, [(1, "I", None, "r1", "a.py", "c1", "py", "v1")])
    with pytest.raises(RuntimeError, match="transient"):
        pipe.process_batch(feed, 0)
    st = pipe.process_batch(feed, 0)  # redelivery succeeds
    assert st["status"] == "COMPLETED"
    hist = {r.epoch: r.status for r in status_history(pipe.lineage.read()).collect()}
    assert hist == {0: "COMPLETED"}
