"""Full-pipeline replay across a mid-stream schema evolution.

The north rule's schema-evolution clause exercised END TO END with the
maintained read models on (r4 verdict, Next round #6): the producer
renames ``lang`` → ``language``, stops sending ``commit``, and adds a
``stars`` column between epochs.  ``CDCPipeline.evolve_schema`` advances
the canonical contract; ``reconcile_exprs`` aligns the drifted batch;
the MERGE's add-column path evolves the stored target.  Pinned:

- evolved column NULL-backfilled on pre-evolution winners, populated on
  post-evolution winners; dropped column NULL on post-evolution winners.
- maintained stats and join-view stay EXACT across the boundary
  (equal a from-scratch recompute of the post-evolution target state).
- redelivery of the drifted epoch is skipped (exactly-once holds
  across the evolution boundary).
- a pre-evolution batch replayed AFTER the evolution reconciles fine
  (NULL-backfill), so resume-from-checkpoint across the boundary works.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline


def _feed_v1(spark, lo, hi):
    """Canonical-contract events: key (repo_{i%4}, src/f{i%97}.py) —
    388 distinct keys, so pre-evolution winners survive epoch 2."""
    return spark.range(lo, hi).select(
        F.col("id").alias("lsn"),
        F.when(F.pmod("id", F.lit(11)) == 7, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.concat(F.lit("repo_"), F.pmod("id", F.lit(4)).cast("string")).alias("repo"),
        F.concat(F.lit("src/f"), F.pmod("id", F.lit(97)).cast("string"), F.lit(".py")).alias("path"),
        F.sha2(F.col("id").cast("string"), 256).substr(1, 8).alias("commit"),
        F.lit("py").alias("lang"),
        F.concat(F.lit("body-"), F.col("id").cast("string")).alias("content"),
    )


def _feed_v2_drifted(spark, lo, hi):
    """Post-evolution producer: language (renamed), no commit, stars
    added, unknown extra column."""
    v1 = _feed_v1(spark, lo, hi)
    return v1.select(
        "lsn", "op", "ts", "repo", "path",
        F.col("lang").alias("language"),
        "content",
        (F.col("lsn") % 5).cast("long").alias("stars"),
        F.lit("host-7").alias("producer_host"),
    )


@pytest.fixture()
def pipe(spark, tmp_path):
    wh = str(tmp_path / "wh")
    shutil.rmtree(wh, ignore_errors=True)
    p = CDCPipeline(
        spark, feed_dir="unused", warehouse=wh,
        maintain_stats=True, maintain_view=True,
    )
    dim = spark.createDataFrame(
        [(f"repo_{i}", f"org_{i % 2}", i % 3) for i in range(3)],  # repo_3 NOT in dim
        "repo string, owner string, tier long",
    )
    p.seed_dim(dim)
    return p


def _evolve(p):
    p.evolve_schema(add_fields=[("stars", T.LongType())], renames={"language": "lang"})


def test_target_backfill_and_maintained_models_exact(spark, pipe):
    pipe.replay_bounded(_feed_v1(spark, 0, 300), epochs=1)
    _evolve(pipe)
    pipe.replay_bounded(_feed_v2_drifted(spark, 300, 500), epochs=1, epoch_offset=1)

    tgt = pipe.target.read()
    assert "stars" in tgt.columns
    # LWW winner per key decides which contract version its row carries
    pre = tgt.filter(F.col("lsn") < 300)
    post = tgt.filter(F.col("lsn") >= 300)
    assert pre.count() > 0 and post.count() > 0
    assert pre.filter(F.col("stars").isNotNull()).count() == 0
    assert pre.filter(F.col("commit").isNull()).count() == 0
    assert post.filter(F.col("stars").isNull()).count() == 0
    assert post.filter(F.col("commit").isNotNull()).count() == 0

    # maintained stats == recompute from the final target
    want_stats = tgt.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.sum(F.length("content")).alias("total_bytes"),
    )
    got_stats = pipe.stats.read().select("repo", "n_paths", "total_bytes")
    assert got_stats.exceptAll(want_stats).count() == 0
    assert want_stats.exceptAll(got_stats).count() == 0

    # maintained view == target ⋈ dim recompute (inner: repo_3 drops out)
    want_view = tgt.select("repo", "path", "lang", "commit").join(
        pipe.dim.read(), on="repo", how="inner"
    )
    got_view = pipe.view.read().select(*want_view.columns)
    assert got_view.exceptAll(want_view).count() == 0
    assert want_view.exceptAll(got_view).count() == 0


def test_redelivery_skipped_across_boundary(spark, pipe):
    pipe.replay_bounded(_feed_v1(spark, 0, 200), epochs=1)
    _evolve(pipe)
    drifted = _feed_v2_drifted(spark, 200, 350)
    pipe.replay_bounded(drifted, epochs=1, epoch_offset=1)
    before = pipe.target.read().collect()
    st = pipe.process_batch(drifted, 1)  # redeliver epoch 1
    assert st.get("skipped")
    assert sorted(map(str, pipe.target.read().collect())) == sorted(map(str, before))


def test_pre_evolution_batch_replays_after_evolution(spark, pipe):
    """Resume-from-checkpoint shape: an old-contract batch arriving
    AFTER the contract evolved reconciles by NULL-backfill."""
    _evolve(pipe)
    pipe.replay_bounded(_feed_v1(spark, 0, 150), epochs=1)
    tgt = pipe.target.read()
    assert "stars" in tgt.columns
    assert tgt.filter(F.col("stars").isNotNull()).count() == 0
    assert tgt.count() > 0


def test_unknown_column_never_reaches_target(spark, pipe):
    pipe.replay_bounded(_feed_v1(spark, 0, 100), epochs=1)
    _evolve(pipe)
    pipe.replay_bounded(_feed_v2_drifted(spark, 100, 200), epochs=1, epoch_offset=1)
    assert "producer_host" not in pipe.target.read().columns
    assert "language" not in pipe.target.read().columns
