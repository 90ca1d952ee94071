"""CDCPipeline(maintain_view=True): the denormalized ``target ⋈ dim``
read model stays equal to a direct recompute of the join after every
feed epoch AND every dimension change epoch, exactly-once on both
paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.cdc import apply_changes
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
from data_ingestion_resolution_platform_spark.sources.lake import snapshot_diff
from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

DIM_SCHEMA = "repo string, owner string, tier long"


def _dim_df(spark, rows):
    return spark.createDataFrame(rows, DIM_SCHEMA)


def _recompute(pipe, dim):
    return (
        pipe.target.read()
        .select("repo", "path", "lang", "commit")
        .join(dim, on="repo", how="inner")
    )


def _as_dict(df):
    return {(r.repo, r.path): (r.lang, r.commit, r.owner, r.tier) for r in df.collect()}


def _feed_and_dims(spark):
    feed = synth_change_feed(spark, n_events=3000, n_repos=10, seed=5, partitions=8)
    repos = sorted(r.repo for r in feed.select("repo").distinct().collect())
    # v1 misses one repo (insert-backfill path), v2 drops one (cascade
    # delete) and rewrites one owner (attribute-update path)
    dim1 = _dim_df(
        spark, [(r, f"own_{i}", i % 3) for i, r in enumerate(repos) if i != 1]
    )
    dim2_rows = []
    for i, r in enumerate(repos):
        if i == 2:
            continue  # deleted in v2
        owner = "own_x" if i == 0 else f"own_{i}"
        dim2_rows.append((r, owner, i % 3))
    return feed, dim1, _dim_df(spark, dim2_rows)


def test_maintained_view_tracks_recompute(spark, tmp_path):
    feed, dim1, dim2 = _feed_and_dims(spark)
    pipe = CDCPipeline(
        spark, feed_dir="unused", warehouse=str(tmp_path / "wh"), maintain_view=True
    )
    pipe.seed_dim(dim1)
    thr = feed.agg(F.max("lsn")).collect()[0][0] // 2
    pipe.replay_bounded(feed.filter(F.col("lsn") <= thr), epochs=1)
    assert _as_dict(pipe.view.read()) == _as_dict(_recompute(pipe, dim1))
    # dimension change epoch: backfill + cascade delete + owner rewrite
    changes = snapshot_diff(dim1, dim2, ["repo"], include_preimages=True)
    pipe.apply_dim_changes(changes, "v2")
    assert _as_dict(pipe.view.read()) == _as_dict(_recompute(pipe, dim2))
    # stored dim converged and stayed key-unique (no preimage rows)
    dim_rows = pipe.dim.read().collect()
    assert len(dim_rows) == len({r.repo for r in dim_rows}) == dim2.count()
    # second feed epoch joins against the NEW dim
    pipe.replay_bounded(feed.filter(F.col("lsn") > thr), epochs=1, epoch_offset=1)
    assert _as_dict(pipe.view.read()) == _as_dict(_recompute(pipe, dim2))
    # exactly-once: redelivering both feed epochs changes nothing
    out = pipe.replay_bounded(feed, epochs=2)
    assert all(o.get("skipped") for o in out)
    assert _as_dict(pipe.view.read()) == _as_dict(_recompute(pipe, dim2))


def test_bootstrap_seeds_view(spark, tmp_path):
    feed, dim1, _ = _feed_and_dims(spark)
    wm = feed.agg(F.max("lsn")).collect()[0][0] // 2
    snapshot = apply_changes(
        feed.filter(F.col("lsn") <= wm), ["repo", "path"], "lsn"
    ).select("repo", "path", "ts", "commit", "lang", "content")
    pipe = CDCPipeline(
        spark, feed_dir="unused", warehouse=str(tmp_path / "whb"), maintain_view=True
    )
    pipe.seed_dim(dim1)
    pipe.bootstrap(snapshot, watermark_lsn=wm)
    assert _as_dict(pipe.view.read()) == _as_dict(_recompute(pipe, dim1))
    # tail epoch after the handoff keeps the view consistent
    pipe.replay_bounded(feed.filter(F.col("lsn") > wm), epochs=1)
    assert _as_dict(pipe.view.read()) == _as_dict(_recompute(pipe, dim1))


def test_unseeded_dim_raises(spark, tmp_path):
    feed, _, _ = _feed_and_dims(spark)
    pipe = CDCPipeline(
        spark, feed_dir="unused", warehouse=str(tmp_path / "whu"), maintain_view=True
    )
    with pytest.raises(ValueError, match="seed_dim"):
        pipe.replay_bounded(feed, epochs=1)
    # the bootstrap seeds the view through the same step, before the target
    snapshot = apply_changes(feed, ["repo", "path"], "lsn").drop("op", "lsn")
    with pytest.raises(ValueError, match="seed_dim"):
        pipe.bootstrap(snapshot, watermark_lsn=0)
    assert not pipe.target.epoch_committed("bootstrap")


def test_view_requires_flag(spark, tmp_path):
    pipe = CDCPipeline(spark, feed_dir="unused", warehouse=str(tmp_path / "whf"))
    assert pipe.view is None and pipe.dim is None
    with pytest.raises(ValueError, match="maintain_view"):
        pipe.seed_dim(_dim_df(spark, [("r", "o", 0)]))
