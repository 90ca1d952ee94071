"""Feed epochs reuse the classes Spark compiled before them.

Spark keeps compiled whole-stage and expression classes in one JVM-wide
LRU cache (``spark.sql.codegen.cache.maxEntries``). An all-views epoch
generates a few hundred classes, so at Spark's default cap of 100 the
next epoch of the same shape finds none of them and recompiles about as
many again; ``get_spark`` sizes the cache to hold the whole set.

The first feed epoch after a bootstrap reuses the bootstrap's view and
MERGE classes: every table is empty (a zero-row file scan), not absent,
so the bootstrap runs the plans a feed epoch runs. What the first epoch
still compiles:
- the resolve, conflicts and lineage audit and status plans, which the
  bootstrap does not run (about 40-60 classes);
- view stages whose plans AQE re-plans at runtime from the bootstrap's
  empty inputs (its state, and retractions) and the first epoch's
  non-empty ones, and the SCD2 history's reads of the raw batch, which
  the bootstrap reads from its persisted winners.
All views on, 4 cores: 84 classes, against 293 when the bootstrap took
a separate "no state yet" branch in every view.

The bound on a warm epoch is not 0, because a few generated sources
still change from epoch to epoch and miss the cache:
- classes that inline the epoch number as a Java ``long`` constant: the
  ``F.lit(epoch)`` columns of the lineage rows (``streaming/lineage.py``,
  ``lineage_rows``) and of the conflicts append (``streaming/pipeline.py``,
  ``process_batch``);
- classes whose only difference is a fresh-variable counter, which AQE
  numbers in the order the fan-out's concurrent steps re-plan, so it can
  differ between two epochs.
This epoch compiled 10-14 classes over six runs; at Spark's default cap
of 100 it compiled 381.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.cdc import apply_changes
from data_ingestion_resolution_platform_spark.operators.sketch import cms_cells, kmv_hash
from data_ingestion_resolution_platform_spark.session import codegen_compiles
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

# classes a warm all-views epoch may still compile (see the docstring)
WARM_EPOCH_COMPILES = 24
# classes the first all-views epoch after a bootstrap may compile: the
# resolve/audit plans the bootstrap never runs, plus slack
FIRST_EPOCH_COMPILES = 90


def _all_views(spark, tmp_path, **views):
    """An all-views pipeline with its seeded dim, a parquet snapshot of a
    synthetic feed's LWW state, its watermark, and two update epochs of
    the same size and shape: every key updated once, so AQE plans both
    alike. Snapshot and epochs are read back from parquet, as a file
    stream reads its micro-batches, so that no per-epoch literal of a
    batch lands in a generated class."""
    feed = synth_change_feed(spark, n_events=1500, n_repos=6, seed=21, partitions=4)
    snapshot = apply_changes(feed, ["repo", "path"], "lsn").select(
        "repo", "path", "ts", "commit", "lang", "content"
    )
    snap_dir = str(tmp_path / "snapshot")
    snapshot.write.parquet(snap_dir)
    snapshot = spark.read.parquet(snap_dir)
    wm = feed.agg(F.max("lsn")).first()[0]
    n_keys = snapshot.count()
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
        **views,
    )
    pipe.seed_dim(snapshot.select("repo").distinct().withColumn("owner", F.upper("repo")))
    return pipe, snapshot, wm, batches


def _rows(df, *cols) -> set[tuple]:
    return {tuple(r) for r in df.select(*cols).collect()}


def _check_views(pipe) -> None:
    """Each side table equals its batch recompute over the target."""
    target = pipe.target.read()
    stats = target.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n_paths"), F.sum(F.length("content")).alias("total_bytes")
    )
    scols = ("repo", "n_paths", "total_bytes")
    assert _rows(pipe.stats.read(), *scols) == _rows(stats, *scols)
    joined = target.select("repo", "path", "lang", "commit").join(pipe.dim.read(), "repo")
    vcols = ("repo", "path", "lang", "commit", "owner")
    assert _rows(pipe.view.read(), *vcols) == _rows(joined, *vcols)
    w = Window.partitionBy("repo").orderBy(F.col("lb_val").desc(), "path")
    lb = target.select(
        "repo", "path", F.length("content").cast("long").alias("lb_val")
    ).withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= pipe.leaderboard_k)
    lcols = ("repo", "path", "lb_val")
    assert _rows(pipe.leaderboard.read(), *lcols) == _rows(lb, *lcols)
    cells = cms_cells(target, F.expr(pipe.freq_item), depth=pipe.freq_depth, width=pipe.freq_width)
    fcols = ("d", "bucket", "cnt")
    assert _rows(pipe.freq.read(), *fcols) == _rows(cells, *fcols)
    wq = Window.partitionBy("repo").orderBy(F.col("qs_h").asc(), "path")
    qs = target.select(
        "repo",
        "path",
        kmv_hash(F.concat_ws("\x1f", "repo", "path")).alias("qs_h"),
        F.length("content").cast("long").alias("qs_val"),
    ).withColumn("_rn", F.row_number().over(wq)).filter(F.col("_rn") <= pipe.quantile_k)
    qcols = ("repo", "path", "qs_h", "qs_val")
    assert _rows(pipe.qsample.read(), *qcols) == _rows(qs, *qcols)
    hcols = ("repo", "path", "commit", "lang", "content")
    assert _rows(pipe.history.open_versions(), *hcols) == _rows(target, *hcols)


def test_first_epoch_reuses_the_bootstraps_classes(spark, tmp_path):
    # sketch sizes no other test uses: their literals reach generated
    # classes, so no earlier test in this JVM has compiled these shapes
    pipe, snapshot, wm, batches = _all_views(spark, tmp_path, freq_width=96, quantile_k=48)
    pipe.bootstrap(snapshot, wm)
    _check_views(pipe)
    stats = pipe.process_batch(batches[0], 1)
    _check_views(pipe)
    assert stats["codegen_compiles"] <= FIRST_EPOCH_COMPILES, (
        f"the first epoch after a bootstrap compiled {stats['codegen_compiles']} classes"
    )
    pipe.process_batch(batches[1], 2)
    _check_views(pipe)


def test_warm_epoch_reuses_compiled_classes(spark, tmp_path):
    pipe, snapshot, wm, batches = _all_views(spark, tmp_path)
    pipe.bootstrap(snapshot, wm)
    pipe.process_batch(batches[0], 1)
    before = codegen_compiles(spark)
    assert pipe.process_batch(batches[1], 2)["status"] == "COMPLETED"
    compiled = codegen_compiles(spark) - before
    assert compiled <= WARM_EPOCH_COMPILES, (
        f"a warm epoch of an already-seen shape compiled {compiled} classes"
    )
