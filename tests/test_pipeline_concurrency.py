"""The one per-epoch fan-out of ``CDCPipeline.process_batch`` and
``bootstrap`` (audit appends, maintained views and the target MERGE,
whose commit alone is gated last) runs on ``run_concurrently``: every
step's Spark jobs stay in the caller's job group, the target MERGE
stages beside the other steps but commits only after all of them have
returned, a failing step is re-raised unchanged only after every other
step has returned and leaves the target uncommitted, and the views that
committed before the failure are skipped by their own ledgers when the
epoch is redelivered."""

from __future__ import annotations

import glob
import os
import threading
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.cdc import apply_changes
from data_ingestion_resolution_platform_spark.operators.sketch import cms_cells, kmv_hash
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
from data_ingestion_resolution_platform_spark.streaming.pipeline import (
    CDCPipeline,
    run_concurrently,
)
from test_mor import _commit_state


def test_run_concurrently_waits_then_raises_first_failure_in_step_order(spark):
    sc = spark.sparkContext
    first, second = ValueError("first"), KeyError("second")
    seen: dict[str, object] = {}
    done = threading.Event()

    def slow_fail():
        time.sleep(0.3)
        raise first

    def fast_fail():
        raise second

    def slow_ok():
        time.sleep(0.6)
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        done.set()

    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "fanout-probe")
    try:
        with pytest.raises(ValueError) as exc:
            run_concurrently(spark, [slow_fail, fast_fail, slow_ok])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert exc.value is first
    assert done.is_set()
    assert seen["group"] == "fanout-probe"
    run_concurrently(spark, [])


def _marker_job(spark, group: str) -> int:
    """Run one one-task job under ``group`` and return its id once the
    status store has recorded it (listener events arrive in order, so
    every earlier job is recorded as well)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    sc.parallelize([0], 1).count()
    for _ in range(200):
        ids = sc.statusTracker().getJobIdsForGroup(group)
        if ids:
            return max(ids)
        time.sleep(0.05)
    raise AssertionError(f"marker job of {group} never reached the status store")


def test_epoch_jobs_all_land_in_callers_job_group(spark, tmp_path):
    feed = synth_change_feed(spark, n_events=1500, n_repos=6, seed=5, partitions=4)
    thr = feed.agg(F.max("lsn")).collect()[0][0] // 2
    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_leaderboard=True,
        maintain_freq=True,
        freq_width=32,
    )
    pipe.replay_bounded(feed.filter(F.col("lsn") <= thr), epochs=1)
    sc = spark.sparkContext
    tag = tmp_path.name
    prev = sc.getLocalProperty("spark.jobGroup.id")
    try:
        before = _marker_job(spark, f"before-{tag}")
        sc.setLocalProperty("spark.jobGroup.id", f"epoch-{tag}")
        pipe.process_batch(feed.filter(F.col("lsn") > thr), 1)
        after = _marker_job(spark, f"after-{tag}")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    in_group = sc.statusTracker().getJobIdsForGroup(f"epoch-{tag}")
    assert len(in_group) == after - before - 1 > 0
    assert all(before < j < after for j in in_group)


@pytest.mark.parametrize("entry", ["process_batch", "bootstrap"])
def test_target_merge_stages_beside_the_views_and_commits_last(
    spark, tmp_path, monkeypatch, entry
):
    feed = synth_change_feed(spark, n_events=1000, n_repos=5, seed=11, partitions=4)
    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_stats=True,
        maintain_freq=True,
        freq_width=32,
    )
    log: list[str] = []
    entered = threading.Event()
    merge = type(pipe.target).merge

    def spy_merge(self, *args, **kwargs):
        if self is pipe.target:
            entered.set()
        return merge(self, *args, **kwargs)

    step = pipe._maintain_freq

    def blocked_step(*args):
        # the target MERGE must start while this view step is running
        assert entered.wait(60), "the target merge did not start beside the view step"
        step(*args)
        log.append("view step returned")

    record = pipe.target.ledger.record

    def spy_record(epoch_id, stats):
        log.append("target ledger record")
        record(epoch_id, stats)

    monkeypatch.setattr(type(pipe.target), "merge", spy_merge)
    monkeypatch.setattr(pipe, "_maintain_freq", blocked_step)
    monkeypatch.setattr(pipe.target.ledger, "record", spy_record)
    if entry == "process_batch":
        pipe.process_batch(feed, 0)
    else:
        pipe.bootstrap(apply_changes(feed, ["repo", "path"], "lsn").drop("op", "lsn"), 0)
    assert log == ["view step returned", "target ledger record"]
    monkeypatch.undo()
    assert pipe.freq.epoch_committed("f0" if entry == "process_batch" else "f_bootstrap")
    got = {(r.repo, r.n_paths, r.total_bytes) for r in pipe.stats.read().collect()}
    assert got == _stats(pipe)


K = 4


def _stats(pipe):
    return {
        (r.repo, r.n, r.b)
        for r in pipe.target.read()
        .groupBy("repo")
        .agg(F.count("*").alias("n"), F.sum(F.length("content")).alias("b"))
        .collect()
    }


def _topk(pipe, order, k):
    w = Window.partitionBy("repo").orderBy(order, "path")
    return (
        pipe.target.read()
        .select(
            "repo",
            "path",
            F.length("content").cast("long").alias("lb_val"),
            kmv_hash(F.concat_ws("\x1f", "repo", "path")).alias("qs_h"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
    )


def _assert_views_match_target(pipe):
    got = {(r.repo, r.n_paths, r.total_bytes) for r in pipe.stats.read().collect()}
    assert got == _stats(pipe)
    cells = cms_cells(pipe.target.read(), F.col("lang"), depth=4, width=32)
    assert {tuple(r) for r in pipe.freq.read().select("d", "bucket", "cnt").collect()} == {
        tuple(r) for r in cells.select("d", "bucket", "cnt").collect()
    }
    lb = _topk(pipe, F.col("lb_val").desc(), 3).select("repo", "path", "lb_val")
    assert {tuple(r) for r in pipe.leaderboard.read().select(*lb.columns).collect()} == {
        tuple(r) for r in lb.collect()
    }
    qs = _topk(pipe, F.col("qs_h").asc(), K).select("repo", "path", "qs_h")
    assert {tuple(r) for r in pipe.qsample.read().select(*qs.columns).collect()} == {
        tuple(r) for r in qs.collect()
    }
    cur = pipe.history.read().filter("is_current = 1").select("repo", "path", "content")
    assert {tuple(r) for r in cur.collect()} == {
        tuple(r) for r in pipe.target.read().select("repo", "path", "content").collect()
    }


def test_one_view_fails_while_the_others_commit(spark, tmp_path, monkeypatch):
    feed = synth_change_feed(spark, n_events=1500, n_repos=6, seed=9, partitions=4)
    thr = feed.agg(F.max("lsn")).collect()[0][0] // 2
    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_stats=True,
        maintain_leaderboard=True,
        maintain_freq=True,
        freq_width=32,
        maintain_quantiles=True,
        quantile_k=K,
        maintain_history=True,
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pipe.replay_bounded(feed.filter(F.col("lsn") <= thr), epochs=1)
    tail = feed.filter(F.col("lsn") > thr)
    committed = _commit_state(pipe.target)

    injected = ValueError("injected leaderboard failure")

    def boom(*args, **kwargs):
        raise injected

    # fail the leaderboard step only: its MERGE is its last action
    monkeypatch.setattr(pipe.leaderboard, "merge", boom)
    with pytest.raises(ValueError) as exc:
        pipe.replay_bounded(tail, epochs=1, epoch_offset=1)
    # the release in ``finally`` ran only after every view step returned
    assert cache.isEmpty()
    assert exc.value is injected
    monkeypatch.undo()
    status = pipe.lineage.read().filter((F.col("partition_id") == -1) & (F.col("epoch") == 1))
    assert [r.status for r in status.collect()] == ["FAILED"]
    # the other views committed epoch 1 on their own ledgers; the target did not
    assert pipe.stats.epoch_committed("m1")
    assert pipe.freq.epoch_committed("f1")
    assert pipe.qsample.epoch_committed("q1")
    assert pipe.history.epoch_committed("h1")
    assert not pipe.leaderboard.epoch_committed("t1")
    assert not pipe.target.epoch_committed(1)
    # the target MERGE staged beside the views, but its gated commit
    # refused: the _DIR bytes, ledger and data dirs are as before, and
    # no staging dir is left
    assert _commit_state(pipe.target) == committed
    assert not glob.glob(os.path.join(pipe.target.root, "_staging_*"))
    stats_version = pipe.stats.current_version()

    pipe.replay_bounded(tail, epochs=1, epoch_offset=1)
    assert cache.isEmpty()
    assert pipe.target.epoch_committed(1) and pipe.leaderboard.epoch_committed("t1")
    # a committed view's ledger made the redelivery a no-op on it: the
    # additive stats would double-count otherwise
    assert pipe.stats.current_version() == stats_version
    _assert_views_match_target(pipe)
