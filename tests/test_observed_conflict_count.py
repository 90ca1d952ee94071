"""The epoch status counts its conflicted keys with an observation on
the conflicts append, not with a separate count; a retry whose
conflicts append already committed (the target commit failed after it)
falls back to ``ResolvedBatch.conflict_key_count`` instead of waiting
on an observation no action will fill."""

from __future__ import annotations

import threading
from collections import defaultdict

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.cdc import ResolvedBatch
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
from data_ingestion_resolution_platform_spark.streaming.lineage import status_history
from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline


def _feed(spark):
    return synth_change_feed(spark, n_events=1200, n_repos=6, seed=13, partitions=4)


def _conflicted_keys(feed) -> int:
    """Keys whose rows disagree on identity (lang, content), counted in
    Python from the raw feed."""
    sigs = defaultdict(set)
    for r in feed.select("repo", "path", "lang", "content").collect():
        sigs[(r.repo, r.path)].add((r.lang, r.content))
    return sum(len(s) > 1 for s in sigs.values())


def _status(pipe, epoch: int):
    rows = status_history(pipe.lineage.read()).filter(F.col("epoch") == epoch).collect()
    return [(r.status, r.n_conflicts) for r in rows]


def _spy(monkeypatch) -> list:
    calls = []
    orig = ResolvedBatch.conflict_key_count

    def spy(self):
        calls.append(self)
        return orig(self)

    monkeypatch.setattr(ResolvedBatch, "conflict_key_count", spy)
    return calls


def test_epoch_status_counts_conflicts_without_a_separate_count(spark, tmp_path, monkeypatch):
    feed = _feed(spark)
    expected = _conflicted_keys(feed)
    assert expected > 0
    calls = _spy(monkeypatch)
    pipe = CDCPipeline(spark, feed_dir="unused", warehouse=str(tmp_path / "wh"))
    stats = pipe.process_batch(feed, 0)
    assert calls == []
    assert stats["conflicts"] == expected
    assert _status(pipe, 0) == [("NEEDS_REVIEW", expected)]
    assert pipe.conflicts.read().count() == expected


def test_retry_after_target_commit_failure_falls_back_to_the_count(
    spark, tmp_path, monkeypatch
):
    feed = _feed(spark)
    expected = _conflicted_keys(feed)
    pipe = CDCPipeline(spark, feed_dir="unused", warehouse=str(tmp_path / "wh"))
    injected = RuntimeError("injected target commit failure")

    def boom(*args, **kwargs):
        raise injected

    monkeypatch.setattr(pipe.target, "_commit", boom)
    try:
        pipe.process_batch(feed, 0)
    except RuntimeError as e:
        assert e is injected
    else:
        raise AssertionError("the injected target commit failure did not surface")
    monkeypatch.undo()
    # the conflicts append committed before the gated target commit failed
    assert pipe.conflicts.epoch_committed("c0")
    assert not pipe.target.epoch_committed(0)
    assert _status(pipe, 0) == [("FAILED", 0)]

    calls = _spy(monkeypatch)
    out: dict = {}

    def retry() -> None:
        out["stats"] = pipe.process_batch(feed, 0)

    t = threading.Thread(target=retry, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "the retry blocked on an observation no action fills"
    assert len(calls) == 1
    assert out["stats"]["conflicts"] == expected
    assert pipe.target.epoch_committed(0)
    assert _status(pipe, 0) == [("NEEDS_REVIEW", expected)]
    # the ledgered append wrote the conflicts once
    assert pipe.conflicts.read().count() == expected
