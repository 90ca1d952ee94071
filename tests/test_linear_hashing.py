"""Linear-hashing bucket growth of PartitionedLakeTable: buckets split
when their post-merge size exceeds max_bucket_bytes; reads stay correct
across mixed levels; replay stays exactly-once/convergent."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.sources.lake import DELETE_COL, PartitionedLakeTable

SCHEMA = "lsn long, op string, repo string, path string, content string"


def _batch(spark, n, offset=0, repos=4, pad=200):
    return spark.range(offset, offset + n).select(
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
        F.concat(F.lit("repo_"), F.pmod(F.col("id"), F.lit(repos)).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.rpad(F.concat(F.lit("c"), F.col("id").cast("string")), pad, "x").alias("content"),
    )


def test_growth_splits_buckets_and_preserves_rows(spark, tmp_path):
    tbl = PartitionedLakeTable(
        spark, str(tmp_path / "t"), bucket_keys=["repo"], n_buckets=2,
        max_bucket_bytes=20_000,
    )
    total = 0
    for epoch in range(4):
        n = 2000
        st = tbl.merge(
            _batch(spark, n, offset=epoch * 10_000), ["repo", "path"], epoch_id=epoch
        )
        total += n
        assert tbl.read().count() == total
    # repeated 2000-row epochs of ~200B rows must have forced splits
    assert tbl.n_live_buckets() > 2
    # every row still lands in exactly one bucket: key-unique readback
    assert tbl.read().select("repo", "path").distinct().count() == total


def test_mixed_level_updates_and_deletes(spark, tmp_path):
    tbl = PartitionedLakeTable(
        spark, str(tmp_path / "t"), bucket_keys=["repo"], n_buckets=2,
        max_bucket_bytes=15_000,
    )
    tbl.merge(_batch(spark, 3000), ["repo", "path"], epoch_id=0)
    assert tbl.n_live_buckets() > 2  # grown
    # update a subset in place (same keys, new content)
    upd = _batch(spark, 500).withColumn("content", F.lit("UPDATED"))
    tbl.merge(upd, ["repo", "path"], epoch_id=1)
    assert tbl.read().count() == 3000
    assert tbl.read().filter(F.col("content") == "UPDATED").count() == 500
    # delete those keys
    dele = upd.withColumn("op", F.lit("D"))
    tbl.merge(dele.withColumn(DELETE_COL, F.col("op") == "D"), ["repo", "path"], epoch_id=2)
    assert tbl.read().count() == 2500
    assert tbl.read().filter(F.col("content") == "UPDATED").count() == 0


def test_replay_is_noop_and_convergent(spark, tmp_path):
    tbl = PartitionedLakeTable(
        spark, str(tmp_path / "t"), bucket_keys=["repo"], n_buckets=2,
        max_bucket_bytes=10_000,
    )
    b = _batch(spark, 1500)
    st1 = tbl.merge(b, ["repo", "path"], epoch_id=7)
    before = sorted(map(tuple, tbl.read().collect()))
    # ledgered replay: no-op
    assert tbl.merge(b, ["repo", "path"], epoch_id=7)["skipped"] is True
    # unledgered re-merge of the same batch (the crash-after-commit,
    # before-ledger case): converges to the identical state
    tbl.merge(b, ["repo", "path"], epoch_id=None)
    after = sorted(map(tuple, tbl.read().collect()))
    assert before == after


def test_split_cost_stays_bounded(spark, tmp_path):
    """Per-epoch written bytes must track the touched set, not total
    table size: after growth, a single-key update rewrites only one
    (small, post-split) bucket."""
    tbl = PartitionedLakeTable(
        spark, str(tmp_path / "t"), bucket_keys=["repo"], n_buckets=2,
        max_bucket_bytes=20_000,
    )
    for epoch in range(3):
        tbl.merge(_batch(spark, 2000, offset=epoch * 10_000, repos=16),
                  ["repo", "path"], epoch_id=epoch)
    n_buckets_grown = tbl.n_live_buckets()
    st = tbl.merge(
        _batch(spark, 1, offset=99_999, repos=1), ["repo", "path"], epoch_id=99
    )
    assert st["touched_buckets"] == 1
    assert st["written_buckets"] <= 2  # the one bucket (or its 2 children)
    assert tbl.n_live_buckets() >= n_buckets_grown


def _bucket_files(tbl) -> dict:
    """{(bucket, level): parquet files of its live version}."""
    return {
        (b, lv): glob.glob(os.path.join(tbl._bucket_dir(b, lv, v), "*.parquet"))
        for (b, lv), v in tbl._read_dir().items()
        if v > 0
    }


def test_one_staged_file_per_bucket_when_all_buckets_share_a_level(spark, tmp_path):
    tbl = PartitionedLakeTable(
        spark, str(tmp_path / "t"), bucket_keys=["repo"], n_buckets=4,
        max_bucket_bytes=1 << 30,
    )
    st = tbl.merge(_batch(spark, 2000, repos=32), ["repo", "path"], epoch_id=0)
    files = _bucket_files(tbl)
    assert len(files) == st["written_buckets"] == 4
    assert all(len(f) == 1 for f in files.values()), files
    # the next epoch merges into the survivors: still one file a bucket
    tbl.merge(_batch(spark, 500, offset=10_000, repos=32), ["repo", "path"], epoch_id=1)
    assert all(len(f) == 1 for f in _bucket_files(tbl).values())
    assert tbl.read().count() == 2500


def test_deepest_bucket_split_repartitions_one_level_finer(spark, tmp_path):
    root = str(tmp_path / "t")
    keys = ["repo", "path"]
    PartitionedLakeTable(
        spark, root, bucket_keys=["repo"], n_buckets=2, max_bucket_bytes=1 << 30
    ).merge(_batch(spark, 3000, repos=16), keys, epoch_id=0)
    # the same table under a threshold both level-1 buckets now exceed:
    # a one-row epoch into each makes it split, one level finer
    tbl = PartitionedLakeTable(
        spark, root, bucket_keys=["repo"], n_buckets=2, max_bucket_bytes=1000
    )
    assert sorted(tbl._read_dir()) == [(0, 1), (1, 1)]
    st = tbl.merge(
        _batch(spark, 16, offset=50_000, repos=16), keys, epoch_id=1
    )
    assert st["splits"] == 2
    files = _bucket_files(tbl)
    assert sorted(files) == [(0, 2), (1, 2), (2, 2), (3, 2)]
    assert all(len(f) == 1 for f in files.values())
    # each child holds only rows of its own residue
    for (b, lv), paths in files.items():
        rows = spark.read.parquet(*paths)
        residue = F.pmod(F.xxhash64("repo"), F.lit(1 << lv))
        assert rows.count() > 0
        assert rows.filter(residue != b).count() == 0
    # no row lost, none doubled, and no staging dir left behind
    assert tbl.read().count() == 3016
    assert tbl.read().select(*keys).distinct().count() == 3016
    assert not glob.glob(os.path.join(root, "_staging_*"))
