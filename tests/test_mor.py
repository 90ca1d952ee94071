"""Merge-on-read lake table: COW-equivalence, tombstones, exactly-once,
compaction, schema evolution across deltas; the ``before_commit`` hook
of the plain COW, bucketed COW and MOR merges."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.cdc import resolve_latest
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
from data_ingestion_resolution_platform_spark.sources.lake import (
    DELETE_COL,
    LakeTable,
    MorLakeTable,
    PartitionedLakeTable,
)

KEYS = ["repo", "path"]


def _epochs(feed, n):
    hi = feed.agg(F.max("lsn")).collect()[0][0] + 1
    step = hi // n
    return [
        feed.filter((F.col("lsn") >= i * step) & (F.col("lsn") < (i + 1) * step if i < n - 1 else F.lit(True)))
        for i in range(n)
    ]


def _state(df):
    return {
        (r.repo, r.path): (r.lsn, r.content)
        for r in df.select("repo", "path", "lsn", "content").collect()
    }


def test_mor_equals_cow_across_epochs(spark, tmp_path):
    feed = synth_change_feed(spark, 4000, n_repos=10, seed=3)
    mor = MorLakeTable(spark, str(tmp_path / "mor"), keys=["repo", "path"], lsn_col="lsn")
    cow = LakeTable(spark, str(tmp_path / "cow"))
    for e, part in enumerate(_epochs(feed, 3), start=1):
        batch = resolve_latest(part, ["repo", "path"], "lsn")
        mor.merge(batch.withColumn(DELETE_COL, F.col("op") == "D"), KEYS, epoch_id=e)
        cow.merge(batch.withColumn(DELETE_COL, F.col("op") == "D"), KEYS, epoch_id=e)
    assert _state(mor.read()) == _state(cow.read())
    assert mor.n_deltas() == 3  # never compacted: reads reconcile deltas


def test_mor_exactly_once_and_compaction(spark, tmp_path):
    feed = synth_change_feed(spark, 3000, n_repos=8, seed=9)
    mor = MorLakeTable(spark, str(tmp_path / "m"), keys=["repo", "path"], lsn_col="lsn")
    parts = _epochs(feed, 2)
    for e, part in enumerate(parts, start=1):
        batch = resolve_latest(part, ["repo", "path"], "lsn")
        mor.merge(batch.withColumn(DELETE_COL, F.col("op") == "D"), KEYS, epoch_id=e)
    before = _state(mor.read())
    # redelivered epoch is a no-op
    dup = resolve_latest(parts[0], ["repo", "path"], "lsn")
    assert mor.merge(dup, KEYS, epoch_id=1)["skipped"] is True
    assert _state(mor.read()) == before
    # compaction folds deltas, preserves state, clears the delta list
    stats = mor.compact()
    assert stats["retired_deltas"] == 2
    assert mor.n_deltas() == 0
    assert _state(mor.read()) == before
    # a later epoch after compaction still lands correctly
    extra = spark.createDataFrame(
        [(999_999, "U", None, "repo_0001", "zzz.py", "c", "py", "new")],
        "lsn long, op string, ts timestamp, repo string, path string, commit string, lang string, content string",
    )
    mor.merge(extra, KEYS, epoch_id=3)
    after = _state(mor.read())
    assert after[("repo_0001", "zzz.py")] == (999_999, "new")
    assert len(after) == len(before) + 1


def test_mor_schema_evolution_across_deltas(spark, tmp_path):
    mor = MorLakeTable(spark, str(tmp_path / "m"), keys=["k"], lsn_col="lsn")
    mor.merge(
        spark.createDataFrame([("a", 1, "x")], "k string, lsn long, v string"), ["k"], epoch_id=1
    )
    mor.merge(
        spark.createDataFrame([("b", 2, "y", "main")], "k string, lsn long, v string, branch string"),
        ["k"],
        epoch_id=2,
    )
    rows = {r.k: (r.v, r.branch) for r in mor.read().collect()}
    assert rows == {"a": ("x", None), "b": ("y", "main")}
    # evolution survives compaction
    mor.compact()
    rows = {r.k: (r.v, r.branch) for r in mor.read().collect()}
    assert rows == {"a": ("x", None), "b": ("y", "main")}


def _hooked_table(kind, spark, root):
    if kind == "lake":
        return LakeTable(spark, root)
    if kind == "cow":
        return PartitionedLakeTable(spark, root, bucket_keys=["repo"], n_buckets=4)
    return MorLakeTable(spark, root, keys=KEYS, lsn_col="lsn")


def _commit_state(table):
    """Everything a merge commit changes: the ``_LATEST`` / ``_DIR`` /
    ``_MANIFEST`` bytes, the ledger, the version claims, and the
    snapshot, bucket version and delta dirs."""
    meta = {LakeTable: "_LATEST", PartitionedLakeTable: "_DIR"}.get(type(table), "_MANIFEST")
    with open(os.path.join(table.root, meta), "rb") as f:
        raw = f.read()
    dirs = sorted(
        glob.glob(os.path.join(table.root, "v=*"))
        + glob.glob(os.path.join(table.root, "_CLAIM_*"))
        + glob.glob(os.path.join(table.root, "b=*", "v=*"))
        + glob.glob(os.path.join(table.root, "delta", "d=*"))
    )
    return raw, table.committed_epochs(), dirs


@pytest.mark.parametrize("kind", ["lake", "cow", "mor"])
def test_before_commit_gates_the_merge_commit(spark, tmp_path, kind):
    feed = synth_change_feed(spark, 3000, n_repos=6, seed=4)
    first, second = [
        resolve_latest(p, KEYS, "lsn").withColumn(DELETE_COL, F.col("op") == "D")
        for p in _epochs(feed, 2)
    ]
    table = _hooked_table(kind, spark, str(tmp_path / "t"))
    table.merge(first, KEYS, epoch_id=1)
    rows = _state(table.read())
    before = _commit_state(table)

    refused = RuntimeError("commit refused")
    seen = []

    def refuse():
        # the staged epoch is written but not yet visible
        seen.append(_state(table.read()))
        raise refused

    with pytest.raises(RuntimeError) as exc:
        table.merge(second, KEYS, epoch_id=2, before_commit=refuse)
    assert exc.value is refused
    assert seen == [rows]
    assert _commit_state(table) == before
    assert _state(table.read()) == rows
    assert not glob.glob(os.path.join(table.root, "_staging_*"))

    # a hook that passes commits the same table as no hook
    twin = _hooked_table(kind, spark, str(tmp_path / "twin"))
    twin.merge(first, KEYS, epoch_id=1)
    twin.merge(second, KEYS, epoch_id=2)
    calls = []
    table.merge(second, KEYS, epoch_id=2, before_commit=lambda: calls.append(1))
    assert calls == [1]
    assert _state(table.read()) == _state(twin.read()) != rows
    assert table.committed_epochs() == twin.committed_epochs()
