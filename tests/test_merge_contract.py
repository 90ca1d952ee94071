"""One MERGE contract over the three lake tables (``sources/lake.py``):
the same batches give the same rows on every layout, a NULL delete
marker deletes, and the marker never reaches a stored schema."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.sources.lake import (
    DELETE_COL,
    LakeTable,
    MorLakeTable,
    PartitionedLakeTable,
)

KEYS = ["k"]
SCHEMA = "k string, lsn long, op string, v string"
KINDS = ["lake", "bucketed", "mor"]


def _table(kind, spark, root):
    if kind == "lake":
        return LakeTable(spark, root)
    if kind == "bucketed":
        return PartitionedLakeTable(spark, root, bucket_keys=KEYS, n_buckets=4)
    return MorLakeTable(spark, root, keys=KEYS, lsn_col="lsn")


def _marked(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema).withColumn(DELETE_COL, F.col("op") == "D")


@pytest.mark.parametrize("kind", KINDS)
def test_null_marker_deletes_on_every_table(spark, tmp_path, kind):
    """A winner whose ``op`` is NULL is no upsert (``op != 'D'`` drops
    it from the views' post-image), so every target deletes its key."""
    t = _table(kind, spark, str(tmp_path / kind))
    t.merge(_marked(spark, [("a", 1, "I", "x"), ("b", 2, "I", "y")]), KEYS, epoch_id=1)
    t.merge(_marked(spark, [("a", 3, None, "z")]), KEYS, epoch_id=2)
    assert sorted(r.k for r in t.read().collect()) == ["b"]


@pytest.mark.parametrize("kind", KINDS)
def test_same_batches_same_rows_and_no_stored_marker(spark, tmp_path, kind):
    t = _table(kind, spark, str(tmp_path / kind))
    t.merge(
        _marked(spark, [("a", 1, "I", "x"), ("b", 2, "I", "y"), ("c", 3, "I", "z")]),
        KEYS,
        epoch_id="seed",
    )
    t.merge(_marked(spark, [("a", 4, "U", "x2")]), KEYS, epoch_id="update")
    t.merge(_marked(spark, [("b", 5, "D", None)]), KEYS, epoch_id="delete")
    t.merge(
        _marked(spark, [("d", 6, "I", "w", "main")], SCHEMA + ", branch string"),
        KEYS,
        epoch_id="add_column",
    )
    assert t.merge(_marked(spark, [("c", 7, "D", None)]), KEYS, epoch_id="delete") == {
        "skipped": True,
        "epoch": "delete",
    }

    got = t.read()
    assert DELETE_COL not in got.columns
    assert {r.k: (r.lsn, r.op, r.v, r.branch) for r in got.collect()} == {
        "a": (4, "U", "x2", None),
        "c": (3, "I", "z", None),
        "d": (6, "I", "w", "main"),
    }
    assert t.committed_epochs() == ["add_column", "delete", "seed", "update"]

    files = glob.glob(os.path.join(t.root, "**", "*.parquet"), recursive=True)
    assert files
    if kind == "mor":  # never compacted: every epoch is a live delta
        assert len(glob.glob(os.path.join(t.root, "delta", "d=*"))) == 4
    for f in files:
        assert DELETE_COL not in pq.read_schema(f).names, f
    if kind == "bucketed":
        with open(os.path.join(t.root, "_SCHEMA")) as fh:
            saved = [field["name"] for field in json.load(fh)["fields"]]
        assert "branch" in saved and DELETE_COL not in saved
