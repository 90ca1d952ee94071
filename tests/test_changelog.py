"""Time-travel reads + snapshot change-data-feed on LakeTable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.sources.lake import DELETE_COL, LakeTable, snapshot_diff

SCHEMA = "repo string, path string, lsn long, content string"

V1 = [
    ("r1", "a.py", 1, "alpha"),
    ("r1", "b.py", 2, "beta"),
    ("r2", "c.py", 3, "gamma"),
]
# b.py updated, c.py deleted, d.py inserted
V2_BATCH = [
    ("r1", "b.py", 10, "beta2"),
    ("r2", "c.py", 11, None),  # tombstone via the delete marker
    ("r2", "d.py", 12, "delta"),
]


def _mk(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.merge(spark.createDataFrame(V1, SCHEMA), ["repo", "path"], epoch_id=1)
    t.merge(
        spark.createDataFrame(V2_BATCH, SCHEMA).withColumn(DELETE_COL, F.col("content").isNull()),
        ["repo", "path"],
        epoch_id=2,
    )
    return t


def test_changelog_classifies_ins_upd_del(spark, tmp_path):
    t = _mk(spark, tmp_path)
    rows = {
        (r.repo, r.path): (r.change_type, r.lsn, r.content)
        for r in t.changelog(1, 2, ["repo", "path"]).collect()
    }
    assert rows == {
        ("r1", "b.py"): ("update_postimage", 10, "beta2"),
        ("r2", "c.py"): ("delete", 3, "gamma"),  # before-image for deletes
        ("r2", "d.py"): ("insert", 12, "delta"),
    }
    # unchanged key a.py emits no row
    assert ("r1", "a.py") not in rows


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert t.current_version() == 2
    old = {r.path for r in t.read(version=1).collect()}
    new = {r.path for r in t.read().collect()}
    assert old == {"a.py", "b.py", "c.py"}
    assert new == {"a.py", "b.py", "d.py"}
    with pytest.raises(FileNotFoundError):
        t.read(version=9)


def test_apply_changelog_converges_replica(spark, tmp_path):
    from data_ingestion_resolution_platform_spark.sources.lake import apply_changelog

    src = _mk(spark, tmp_path)
    replica = LakeTable(spark, str(tmp_path / "rep"))
    replica.merge(src.read(version=1), ["repo", "path"], epoch_id="seed")
    apply_changelog(
        replica, src.changelog(1, 2, ["repo", "path"]), ["repo", "path"], epoch_id="v2"
    )
    a, b = replica.read(), src.read()
    assert sorted(a.columns) == sorted(b.columns)  # no change_type leak
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # re-delivery of the changelog epoch is a no-op
    out = apply_changelog(
        replica, src.changelog(1, 2, ["repo", "path"]), ["repo", "path"], epoch_id="v2"
    )
    assert out.get("skipped") is True


def test_snapshot_diff_null_safe_compare(spark, tmp_path):
    before = spark.createDataFrame(
        [("k1", None), ("k2", "x")], "k string, v string"
    )
    after = spark.createDataFrame(
        [("k1", None), ("k2", None)], "k string, v string"
    )
    out = {r.k: r.change_type for r in snapshot_diff(before, after, ["k"]).collect()}
    # NULL == NULL must NOT count as change; x -> NULL must
    assert out == {"k2": "update_postimage"}
