"""Generic group-pruned rescan maintenance (`operators/rescan.py`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.rescan import (
    maintain_group_rescan,
)
from data_ingestion_resolution_platform_spark.sources.lake import LakeTable


@pytest.fixture()
def store(spark, tmp_path):
    return LakeTable(spark, str(tmp_path / "rescan_store"))


def _base(spark, rows):
    return spark.createDataFrame(rows, "g long, x long")


def _recompute_sum(base):
    def recompute(aff):
        return (
            base.join(F.broadcast(aff), on="g")
            .groupBy("g")
            .agg(F.sum("x").alias("s"))
        )

    return recompute


def test_rescan_touches_only_affected_groups(spark, store):
    base1 = _base(spark, [(1, 10), (2, 20), (3, 30)])
    store.merge(
        _recompute_sum(base1)(base1.select("g").distinct()), ["g"], epoch_id="seed"
    )
    # epoch: group 2's rows changed in the base; group 3 untouched — a
    # recompute fed the POST base must only rewrite group 2
    base2 = _base(spark, [(1, 10), (2, 99), (3, 12345)])
    v0 = store.versions.current()
    maintain_group_rescan(
        store,
        ["g"],
        spark.createDataFrame([(2,)], "g long"),
        _recompute_sum(base2),
        epoch_id="e1",
    )
    got = {(r.g, r.s) for r in store.read().select("g", "s").collect()}
    # group 3 keeps its SEED value (30, not 12345): untouched groups are
    # never rescanned — the pruning is real, not cosmetic
    assert got == {(1, 10), (2, 99), (3, 30)}
    changed = {
        r.g for r in store.changelog(v0, store.versions.current(), ["g"]).collect()
    }
    assert changed == {2}


def test_vanished_group_is_deleted(spark, store):
    base1 = _base(spark, [(1, 10), (2, 20)])
    store.merge(
        _recompute_sum(base1)(base1.select("g").distinct()), ["g"], epoch_id="seed"
    )
    # group 2's base rows are all gone post-epoch → recompute returns no
    # row for it → the store row must be DELETED, not stranded
    base2 = _base(spark, [(1, 10)])
    maintain_group_rescan(
        store,
        ["g"],
        spark.createDataFrame([(2,)], "g long"),
        _recompute_sum(base2),
        epoch_id="e1",
    )
    assert {r.g for r in store.read().collect()} == {1}


def test_multi_row_group_mode_sweeps_stale_rows(spark, store):
    """group_keys mode: a group owning several store rows loses exactly
    the rows the rescan no longer emits — other groups untouched."""
    def rows_df(rows):
        return spark.createDataFrame(rows, "g long, k long, val long")

    store.merge(
        rows_df([(1, 10, 100), (1, 11, 110), (2, 20, 200)]),
        ["g", "k"],
        epoch_id="seed",
    )
    # group 1's rescan now emits only k=11 (new val) and a new k=12;
    # its k=10 row must be swept, group 2 untouched
    maintain_group_rescan(
        store,
        ["g", "k"],
        spark.createDataFrame([(1,)], "g long"),
        lambda aff: rows_df([(1, 11, 111), (1, 12, 120)]).join(
            F.broadcast(aff), on="g", how="left_semi"
        ),
        epoch_id="e1",
        group_keys=["g"],
    )
    got = {(r.g, r.k, r.val) for r in store.read().select("g", "k", "val").collect()}
    assert got == {(1, 11, 111), (1, 12, 120), (2, 20, 200)}


def test_bucketed_backend_portability(spark, tmp_path):
    """The delete-marked batch rides PartitionedLakeTable unchanged —
    the 100 TB store where the MERGE rewrites only touched buckets."""
    from data_ingestion_resolution_platform_spark.sources.lake import (
        PartitionedLakeTable,
    )

    store = PartitionedLakeTable(
        spark, str(tmp_path / "rescan_bucketed"), ["g"], n_buckets=4
    )
    base1 = _base(spark, [(1, 10), (2, 20)])
    store.merge(
        _recompute_sum(base1)(base1.select("g").distinct()), ["g"], epoch_id="seed"
    )
    base2 = _base(spark, [(1, 10)])  # group 2 vanished
    maintain_group_rescan(
        store,
        ["g"],
        spark.createDataFrame([(1,), (2,)], "g long"),
        _recompute_sum(base2),
        epoch_id="e1",
    )
    got = {(r.g, r.s) for r in store.read().select("g", "s").collect()}
    assert got == {(1, 10)}


def test_redelivered_epoch_is_noop(spark, store):
    base = _base(spark, [(1, 10)])
    store.merge(
        _recompute_sum(base)(base.select("g").distinct()), ["g"], epoch_id="seed"
    )
    aff = spark.createDataFrame([(1,)], "g long")
    maintain_group_rescan(store, ["g"], aff, _recompute_sum(base), epoch_id="e1")
    out = maintain_group_rescan(
        store, ["g"], aff, _recompute_sum(base), epoch_id="e1"
    )
    assert out.get("skipped")
