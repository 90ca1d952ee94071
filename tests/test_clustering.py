"""Z-order clustering: multi-dim pruning wins, results never change."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.sources.clustering import (
    write_clustered,
    zorder_key,
)
from data_ingestion_resolution_platform_spark.sources.skipping import pruned_scan

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from data_ingestion_resolution_platform_spark.session import get_spark

    return get_spark("test_clustering", parallelism=4)


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def _kept(spark, root, preds):
    df, report = pruned_scan(spark, root, [root], preds)
    return df, report


def test_zorder_prunes_both_dims(spark, events, tmp_path):
    zpath = str(tmp_path / "z")
    tpath = str(tmp_path / "ts_only")
    write_clustered(events, zpath, ["ts", "value"], n_files=16)
    events.repartitionByRange(16, "ts").write.parquet(tpath)

    lo, hi = dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 10)
    ts_pred = [("ts", "between", (lo, hi))]
    val_pred = [("value", ">=", 90.0)]

    _, z_ts = _kept(spark, zpath, ts_pred)
    _, z_val = _kept(spark, zpath, val_pred)
    _, t_ts = _kept(spark, tpath, ts_pred)
    _, t_val = _kept(spark, tpath, val_pred)

    # single-dim clustering prunes its own dim but not the other
    assert t_ts["files_kept"] < t_ts["files_total"]
    assert t_val["files_kept"] == t_val["files_total"]
    # z-order prunes on BOTH dims
    assert z_ts["files_kept"] < z_ts["files_total"]
    assert z_val["files_kept"] < z_val["files_total"]


def test_zorder_results_identical(spark, events, tmp_path):
    zpath = str(tmp_path / "z2")
    write_clustered(events, zpath, ["ts", "value"], n_files=16)
    lo, hi = dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 12)
    preds = [("ts", "between", (lo, hi)), ("value", ">=", 50.0)]
    scanned, report = _kept(spark, zpath, preds)
    expected = events.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)) & (F.col("value") >= 50.0)
    )
    assert report["files_kept"] < report["files_total"]
    assert scanned.count() == expected.count()
    assert scanned.exceptAll(expected).count() == 0
    assert expected.exceptAll(scanned).count() == 0


def test_zorder_key_handles_nulls_and_constants(spark):
    df = spark.createDataFrame(
        [(None, 5.0), (3, 5.0), (7, 5.0)], "a int, b double"
    )
    out = df.withColumn("k", zorder_key(df, ["a", "b"])).collect()
    ks = {r.a: r.k for r in out}
    # constant column contributes 0; NULL ranks lowest
    assert ks[None] == 0
    assert ks[None] <= ks[3] <= ks[7]


def test_zorder_rejects_strings(spark):
    df = spark.createDataFrame([("x", 1)], "s string, a int")
    with pytest.raises(TypeError):
        zorder_key(df, ["s", "a"])
