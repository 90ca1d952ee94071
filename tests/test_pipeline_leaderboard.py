"""CDCPipeline(maintain_leaderboard=True): the per-repo top-k-largest-
files read model stays equal to a direct recompute over the target
after every feed epoch, including deletes that evict stored rows,
exactly-once under redelivery, and across a snapshot bootstrap."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.sketch import kmv_hash
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline


def _recompute(pipe, k=3):
    w = Window.partitionBy("repo").orderBy(F.col("lb_val").desc(), "path")
    return (
        pipe.target.read()
        .select("repo", "path", F.length("content").cast("long").alias("lb_val"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _as_set(df):
    return {(r.repo, r.path, r.lb_val) for r in df.collect()}


def test_leaderboard_tracks_recompute_across_epochs(spark, tmp_path):
    feed = synth_change_feed(spark, n_events=3000, n_repos=10, seed=7, partitions=8)
    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_leaderboard=True,
    )
    thr = feed.agg(F.max("lsn")).collect()[0][0] // 2
    pipe.replay_bounded(feed.filter(F.col("lsn") <= thr), epochs=1)
    assert _as_set(pipe.leaderboard.read()) == _as_set(_recompute(pipe))
    # second epoch carries updates AND deletes over the first's state —
    # stored top rows get evicted and back-filled
    pipe.replay_bounded(feed.filter(F.col("lsn") > thr), epochs=1, epoch_offset=1)
    assert _as_set(pipe.leaderboard.read()) == _as_set(_recompute(pipe))
    # buffer invariant: never more than k rows per group
    counts = pipe.leaderboard.read().groupBy("repo").count().collect()
    assert all(r["count"] <= 3 for r in counts)
    # redelivering a committed epoch is a no-op on the leaderboard too
    before = _as_set(pipe.leaderboard.read())
    pipe.replay_bounded(feed.filter(F.col("lsn") > thr), epochs=1, epoch_offset=1)
    assert _as_set(pipe.leaderboard.read()) == before


def test_leaderboard_bootstrap_handoff(spark, tmp_path):
    feed = synth_change_feed(spark, n_events=2000, n_repos=8, seed=11, partitions=8)
    thr = feed.agg(F.max("lsn")).collect()[0][0] // 2
    # the snapshot is the LWW state of the feed prefix
    ref = CDCPipeline(
        spark, feed_dir="unused", warehouse=str(tmp_path / "ref")
    )
    ref.replay_bounded(feed.filter(F.col("lsn") <= thr), epochs=1)
    snapshot = ref.target.read().select("repo", "path", "commit", "lang", "content")
    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_leaderboard=True,
    )
    pipe.bootstrap(snapshot, watermark_lsn=thr)
    assert _as_set(pipe.leaderboard.read()) == _as_set(_recompute(pipe))
    # tail strictly after the watermark: maintained state must converge
    pipe.replay_bounded(feed.filter(F.col("lsn") > thr), epochs=1, epoch_offset=1)
    assert _as_set(pipe.leaderboard.read()) == _as_set(_recompute(pipe))


# Spark jobs one leaderboard epoch may run, the audit appends included
# (their pool threads inherit the caller's job group). Each reference to
# an un-cut control frame of maintain_topk re-plans its broadcast
# subtree as separate jobs; see CHANGES.md for the measured counts.
MAX_TOPK_EPOCH_JOBS = 40


def test_topk_epoch_job_fanout_is_bounded(spark, tmp_path):
    feed = synth_change_feed(spark, n_events=3000, n_repos=10, seed=7, partitions=8)
    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_leaderboard=True,
    )
    thr = feed.agg(F.max("lsn")).collect()[0][0] // 2
    pipe.replay_bounded(feed.filter(F.col("lsn") <= thr), epochs=1)
    sc = spark.sparkContext
    group = f"topk-fanout-{tmp_path.name}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        pipe.process_batch(feed.filter(F.col("lsn") > thr), 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert _as_set(pipe.leaderboard.read()) == _as_set(_recompute(pipe))
    assert 0 < n_jobs <= MAX_TOPK_EPOCH_JOBS, n_jobs


def test_shared_change_set_released_on_success_and_failure(spark, tmp_path, monkeypatch):
    """The epoch's persisted winners and target pre-image feed both
    top-k views and are released in ``finally``: nothing stays cached
    after a committed epoch or after a FAILED one, and the redelivered
    epoch converges."""
    feed = synth_change_feed(spark, n_events=1500, n_repos=6, seed=3, partitions=4)
    thr = feed.agg(F.max("lsn")).collect()[0][0] // 2
    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_leaderboard=True,
        maintain_quantiles=True,
        quantile_k=4,
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pipe.replay_bounded(feed.filter(F.col("lsn") <= thr), epochs=1)
    assert cache.isEmpty()

    def boom(self, *a, **k):
        raise RuntimeError("injected target-merge crash")

    monkeypatch.setattr(type(pipe.target), "merge", boom)
    with pytest.raises(RuntimeError, match="injected"):
        pipe.replay_bounded(feed.filter(F.col("lsn") > thr), epochs=1, epoch_offset=1)
    monkeypatch.undo()
    assert cache.isEmpty()

    pipe.replay_bounded(feed.filter(F.col("lsn") > thr), epochs=1, epoch_offset=1)
    assert cache.isEmpty()
    assert _as_set(pipe.leaderboard.read()) == _as_set(_recompute(pipe))
    # bottom-k hash sample == direct recompute over the live target
    w = Window.partitionBy("repo").orderBy("qs_h", "path")
    want = (
        pipe.target.read()
        .select(
            "repo",
            "path",
            kmv_hash(F.concat_ws("\x1f", "repo", "path")).alias("qs_h"),
            F.length("content").cast("long").alias("qs_val"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 4)
        .drop("_rn")
    )
    got = pipe.qsample.read().select("repo", "path", "qs_h", "qs_val")
    assert sorted(got.collect()) == sorted(want.collect())
