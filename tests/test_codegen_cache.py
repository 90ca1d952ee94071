"""A warm epoch reuses the classes Spark compiled for the epoch before it.

Spark keeps compiled whole-stage and expression classes in one JVM-wide
LRU cache (``spark.sql.codegen.cache.maxEntries``). An all-views epoch
generates a few hundred classes, so at Spark's default cap of 100 the
next epoch of the same shape finds none of them and recompiles about as
many again; ``get_spark`` sizes the cache to hold the whole set.

The bound on the second epoch is not 0, because a few generated sources
still change from epoch to epoch and miss the cache:
- classes that inline the epoch number as a Java ``long`` constant: the
  ``F.lit(epoch)`` columns of the lineage rows (``streaming/lineage.py``,
  ``lineage_rows``) and of the conflicts append (``streaming/pipeline.py``,
  ``process_batch``);
- classes whose only difference is the whole-stage codegen id or a
  fresh-variable counter, which AQE numbers in the order the fan-out's
  concurrent steps re-plan, so it can differ between two epochs.
This epoch compiled 10-14 classes over six runs; at Spark's default cap
of 100 it compiled 381.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.cdc import apply_changes
from data_ingestion_resolution_platform_spark.session import codegen_compiles
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

# classes a warm all-views epoch may still compile (see the docstring)
WARM_EPOCH_COMPILES = 24


def test_warm_epoch_reuses_compiled_classes(spark, tmp_path):
    feed = synth_change_feed(spark, n_events=1500, n_repos=6, seed=21, partitions=4)
    snapshot = apply_changes(feed, ["repo", "path"], "lsn").select(
        "repo", "path", "ts", "commit", "lang", "content"
    )
    snap_dir = str(tmp_path / "snapshot")
    snapshot.write.parquet(snap_dir)
    snapshot = spark.read.parquet(snap_dir)
    wm = feed.agg(F.max("lsn")).first()[0]
    n_keys = snapshot.count()

    # two update epochs of the same size and shape: every key updated
    # once, so AQE plans both alike; read back from parquet so that no
    # per-epoch literal of the batch lands in a generated class
    batches = []
    for k in (1, 2):
        d = str(tmp_path / f"epoch{k}")
        snapshot.select(
            (F.lit(wm + (k - 1) * n_keys) + F.monotonically_increasing_id() + 1).alias("lsn"),
            F.lit("U").alias("op"),
            "ts", "repo", "path",
            F.concat("commit", F.lit(f"-{k}")).alias("commit"),
            "lang",
            F.concat("content", F.lit(f" v{k}")).alias("content"),
        ).coalesce(1).write.parquet(d)
        batches.append(spark.read.parquet(d))

    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_stats=True,
        maintain_view=True,
        maintain_leaderboard=True,
        maintain_freq=True,
        maintain_quantiles=True,
        maintain_history=True,
    )
    pipe.seed_dim(snapshot.select("repo").distinct().withColumn("owner", F.upper("repo")))
    pipe.bootstrap(snapshot, wm)
    pipe.process_batch(batches[0], 1)
    before = codegen_compiles(spark)
    assert pipe.process_batch(batches[1], 2)["status"] == "COMPLETED"
    compiled = codegen_compiles(spark) - before
    assert compiled <= WARM_EPOCH_COMPILES, (
        f"a warm epoch of an already-seen shape compiled {compiled} classes"
    )
