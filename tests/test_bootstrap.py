"""Snapshot → streaming handoff (CDCPipeline.bootstrap)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.cdc import apply_changes
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline
from test_pipeline_concurrency import K, _assert_views_match_target

FEED_SCHEMA = (
    "lsn long, op string, ts timestamp, repo string, path string, "
    "commit string, lang string, content string"
)


def _feed(spark):
    # prefix (lsn <= 4): a created+updated, b created+deleted, c created
    # tail   (lsn  > 4): a updated, b re-inserted, c deleted, d created
    rows = [
        (1, "I", None, "r", "a", "c1", "py", "a-v1"),
        (2, "U", None, "r", "a", "c2", "py", "a-v2"),
        (3, "I", None, "r", "b", "c3", "py", "b-v1"),
        (4, "D", None, "r", "b", "c4", "py", ""),
        (4, "I", None, "r", "c", "c4", "py", "c-v1"),
        (5, "U", None, "r", "a", "c5", "py", "a-v3"),
        (6, "I", None, "r", "b", "c6", "py", "b-v2"),
        (7, "D", None, "r", "c", "c7", "py", ""),
        (8, "I", None, "r", "d", "c8", "py", "d-v1"),
    ]
    return rows


@pytest.fixture()
def handoff(spark, tmp_path):
    feed = spark.createDataFrame(_feed(spark), FEED_SCHEMA)
    pipe = CDCPipeline(spark, feed_dir="unused", warehouse=str(tmp_path / "wh"))
    wm = 4
    snapshot = apply_changes(
        feed.filter(F.col("lsn") <= wm), ["repo", "path"], "lsn"
    ).drop("op", "lsn")
    return feed, pipe, snapshot, wm


def test_bootstrap_then_tail_equals_full_replay(handoff):
    feed, pipe, snapshot, wm = handoff
    pipe.bootstrap(snapshot, wm)
    pipe.replay_bounded(feed.filter(F.col("lsn") > wm), epochs=2)
    got = {
        r["path"]: r["content"]
        for r in pipe.target.read().select("path", "content").collect()
    }
    # prefix-deleted b re-inserted in tail; c deleted in tail; a updated
    assert got == {"a": "a-v3", "b": "b-v2", "d": "d-v1"}


def test_bootstrap_is_ledgered(handoff):
    feed, pipe, snapshot, wm = handoff
    first = pipe.bootstrap(snapshot, wm)
    assert not first.get("skipped")
    assert pipe.bootstrap(snapshot, wm)["skipped"]


def test_bootstrap_rows_carry_watermark_stamp(handoff):
    feed, pipe, snapshot, wm = handoff
    pipe.bootstrap(snapshot, wm)
    rows = pipe.target.read().select("lsn", "op").distinct().collect()
    assert {(r["lsn"], r["op"]) for r in rows} == {(wm, "I")}


# --- every maintained view seeds through its epoch advance step ------------

def _all_views(spark, tmp_path):
    """A pipeline with all six maintained views on, its seeded dim, the
    LWW snapshot of a synthetic feed's first half and the tail after it."""
    feed = synth_change_feed(spark, n_events=1500, n_repos=6, seed=21, partitions=4)
    wm = feed.agg(F.max("lsn")).collect()[0][0] // 2
    snapshot = apply_changes(
        feed.filter(F.col("lsn") <= wm), ["repo", "path"], "lsn"
    ).select("repo", "path", "ts", "commit", "lang", "content")
    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_stats=True,
        maintain_view=True,
        maintain_leaderboard=True,
        maintain_freq=True,
        freq_width=32,
        maintain_quantiles=True,
        quantile_k=K,
        maintain_history=True,
    )
    repos = sorted(r.repo for r in feed.select("repo").distinct().collect())
    # one repo left out of the dim: its rows must stay out of the view
    pipe.seed_dim(
        spark.createDataFrame(
            [(r, f"own_{i}") for i, r in enumerate(repos) if i != 1],
            "repo string, owner string",
        )
    )
    return pipe, snapshot, wm, feed.filter(F.col("lsn") > wm)


def _assert_all_views_match_target(pipe):
    _assert_views_match_target(pipe)
    joined = pipe.target.read().select("repo", "path", "lang", "commit").join(
        pipe.dim.read(), on="repo"
    )
    cols = joined.columns
    assert {tuple(r) for r in pipe.view.read().select(*cols).collect()} == {
        tuple(r) for r in joined.collect()
    }


def _seed_ledgers(pipe):
    return {
        name: table.committed_epochs()
        for name, table in (
            ("stats", pipe.stats),
            ("history", pipe.history._open),
            ("leaderboard", pipe.leaderboard),
            ("qsample", pipe.qsample),
            ("freq", pipe.freq),
            ("view", pipe.view),
        )
    }


SEED_LEDGERS = {
    "stats": ["m_bootstrap"],
    "history": ["h_bootstrap"],
    "leaderboard": ["t_bootstrap"],
    "qsample": ["q_bootstrap"],
    "freq": ["f_bootstrap"],
    "view": ["v_bootstrap"],
}


def test_bootstrap_seeds_all_six_views_together(spark, tmp_path):
    pipe, snapshot, wm, tail = _all_views(spark, tmp_path)
    pipe.bootstrap(snapshot, wm)
    # fixed seed ledger ids: a lake bootstrapped by an earlier release
    # holds the same ones, so its bootstrap re-run seeds nothing twice
    assert _seed_ledgers(pipe) == SEED_LEDGERS
    assert pipe.target.committed_epochs() == ["bootstrap"]
    _assert_all_views_match_target(pipe)
    pipe.replay_bounded(tail, epochs=1, epoch_offset=1)
    _assert_all_views_match_target(pipe)
    assert pipe.bootstrap(snapshot, wm)["skipped"]


def test_partial_bootstrap_failure_converges(spark, tmp_path, monkeypatch):
    pipe, snapshot, wm, tail = _all_views(spark, tmp_path)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    injected = ValueError("injected freq seed failure")

    def boom(change, epoch):
        raise injected

    monkeypatch.setattr(pipe, "_maintain_freq", boom)
    with pytest.raises(ValueError) as exc:
        pipe.bootstrap(snapshot, wm)
    assert exc.value is injected
    assert cache.isEmpty()
    monkeypatch.undo()
    # the other seeds committed on their own ledgers; the target did not
    assert _seed_ledgers(pipe) == {**SEED_LEDGERS, "freq": []}
    assert not pipe.target.epoch_committed("bootstrap")
    stats_version = pipe.stats.current_version()

    pipe.bootstrap(snapshot, wm)
    # the committed seeds were skipped, not re-added
    assert pipe.stats.current_version() == stats_version
    assert _seed_ledgers(pipe) == SEED_LEDGERS
    pipe.replay_bounded(tail, epochs=1, epoch_offset=1)
    _assert_all_views_match_target(pipe)
