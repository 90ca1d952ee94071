"""File-level min/max data skipping (sources/skipping.py): pruned
scans must (a) return exactly what read().filter(...) returns, (b)
actually skip files on clustered range predicates, (c) never skip a
file the stats can't rule out, (d) serve repeat scans from the
_STATS.json sidecar without re-reading footers."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.sources import skipping
from data_ingestion_resolution_platform_spark.sources.lake import (
    LakeTable,
    PartitionedLakeTable,
)


def _events(spark, n=4000):
    base = dt.datetime(2024, 1, 1)
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.lit(base) + F.make_interval(mins=F.col("id").cast("int"))).alias("ts"),
        F.pmod(F.col("id"), F.lit(97)).alias("user_id"),
        F.concat(F.lit("t"), F.pmod(F.col("id"), F.lit(5)).cast("string")).alias(
            "event_type"
        ),
        (F.col("id") % 1000).cast("double").alias("value"),
    )


def _same(a, b):
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_scan_equals_filter_and_prunes(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    # range-cluster on event_id so each of the 8 files owns a distinct slice
    t.overwrite(_events(spark).repartitionByRange(8, "event_id"))
    preds = [("event_id", "between", (100, 300))]
    got = t.scan(preds)
    _same(got, t.read().filter((F.col("event_id") >= 100) & (F.col("event_id") <= 300)))
    rep = t.last_scan_report
    assert rep["files_total"] >= 8
    assert rep["files_kept"] < rep["files_total"]
    assert rep["rows_skipped_bound"] > 0


def test_scan_ops_cover_types(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_events(spark).repartitionByRange(8, "ts"))
    cut = dt.datetime(2024, 1, 1, 8, 20)
    for preds, col in [
        ([("ts", "<", cut)], F.col("ts") < F.lit(cut)),
        ([("ts", ">=", cut)], F.col("ts") >= F.lit(cut)),
        ([("event_type", "==", "t3")], F.col("event_type") == "t3"),
        ([("user_id", "in", (5, 7))], F.col("user_id").isin(5, 7)),
        (
            [("ts", ">", cut), ("value", "<=", 50.0)],
            (F.col("ts") > F.lit(cut)) & (F.col("value") <= 50.0),
        ),
    ]:
        _same(t.scan(preds), t.read().filter(col))
    # the timestamp range scans must have pruned at least one file
    t.scan([("ts", "<", dt.datetime(2024, 1, 1, 0, 30))])
    assert t.last_scan_report["files_kept"] < t.last_scan_report["files_total"]


def test_conservative_never_drops_uncertain_files(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    df = _events(spark, 500).withColumn(
        "maybe_null", F.when(F.col("event_id") < 250, F.col("value"))
    )
    t.overwrite(df.repartitionByRange(4, "event_id"))
    # predicate on a column with null-only files: files of all-null
    # maybe_null may be dropped, others kept; result still exact
    _same(
        t.scan([("maybe_null", ">=", 100.0)]),
        t.read().filter(F.col("maybe_null") >= 100.0),
    )
    # empty-survivor scan returns an empty frame with the right schema
    empty = t.scan([("event_id", ">", 10_000_000)])
    assert empty.count() == 0
    assert set(empty.columns) == set(t.read().columns)


def test_stats_cache_hits_on_second_scan(spark, tmp_path, monkeypatch):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_events(spark, 1000).repartitionByRange(4, "event_id"))
    preds = [("event_id", "<", 100)]
    t.scan(preds)  # populates _STATS.json
    calls = {"n": 0}
    real = skipping.harvest_parquet_stats

    def counting(path):
        calls["n"] += 1
        return real(path)

    monkeypatch.setattr(skipping, "harvest_parquet_stats", counting)
    _same(t.scan(preds), t.read().filter(F.col("event_id") < 100))
    assert calls["n"] == 0  # all footer reads served from the sidecar
    # a new version invalidates by content address, not by trust
    t.overwrite(_events(spark, 1000).repartitionByRange(4, "event_id"))
    t.scan(preds)
    assert calls["n"] > 0


def test_partitioned_scan_prunes_cold_buckets_on_lsn(spark, tmp_path):
    """An epoch that touches only hot keys leaves cold buckets holding
    files whose lsn bounds predate it — a recent-lsn scan plans those
    files away driver-side (the Iceberg 'manifest says this file can't
    matter' path), while touched buckets survive and get the residual
    filter."""
    tbl = PartitionedLakeTable(
        spark,
        str(tmp_path / "p"),
        bucket_keys=["repo"],
        n_buckets=16,
    )
    n, repos = 6000, 8

    def batch(offset, count, repo_mod):
        return spark.range(offset, offset + count).select(
            F.col("id").alias("lsn"),
            F.lit("I").alias("op"),
            F.concat(F.lit("repo_"), F.pmod(F.col("id"), F.lit(repo_mod)).cast("string")).alias("repo"),
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
            F.sha2(F.col("id").cast("string"), 256).alias("content"),
        )

    tbl.merge(batch(0, n, repos), ["repo", "path"], epoch_id=1)
    # epoch 2 only writes repo_0/repo_1: most buckets stay at epoch-1 lsn bounds
    tbl.merge(batch(n, 800, 2), ["repo", "path"], epoch_id=2)
    preds = [("lsn", ">=", n + 100)]
    got = tbl.scan(preds)
    _same(got, tbl.read().filter(F.col("lsn") >= n + 100))
    rep = tbl.last_scan_report
    assert rep["files_kept"] < rep["files_total"]
    assert rep["rows_skipped_bound"] > 0
