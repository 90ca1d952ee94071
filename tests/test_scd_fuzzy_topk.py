"""SCD2 historization, blocked fuzzy join, salted grouped top-k."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.fuzzy import fuzzy_self_pairs
from data_ingestion_resolution_platform_spark.operators.scd import (
    scd2_as_of,
    scd2_history,
)
from data_ingestion_resolution_platform_spark.operators.topk import grouped_topk


# ---------------------------------------------------------------- SCD2 ----

@pytest.fixture(scope="module")
def feed(spark):
    # key k1: I(a) U(a no-op) U(b) D  U(b re-insert-after-delete)
    # key k2: I(a) only — stays current
    # key k3: U(null attr) U(null attr no-op) — null-safe collapse
    rows = [
        ("k1", 1, "I", "a"),
        ("k1", 2, "U", "a"),   # no-op: collapses into version 1
        ("k1", 3, "U", "b"),
        ("k1", 4, "D", None),
        ("k1", 5, "U", "b"),   # after D: new version even though attrs match
        ("k2", 1, "I", "a"),
        ("k3", 1, "U", None),
        ("k3", 2, "U", None),  # null-safe no-op
    ]
    return spark.createDataFrame(rows, ["key", "lsn", "op", "attr"])


def test_scd2_versions_and_currency(feed):
    hist = scd2_history(feed, ["key"], "lsn", ["attr"]).collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r["key"], []).append(r)
    k1 = sorted(by_key["k1"], key=lambda r: r["valid_from_lsn"])
    assert [(r["attr"], r["valid_from_lsn"], r["valid_to_lsn"], r["is_current"]) for r in k1] == [
        ("a", 1, 3, 0),   # no-op U@2 collapsed; closed by change@3
        ("b", 3, 4, 0),   # closed by tombstone@4
        ("b", 5, None, 1),  # re-insert after D opens a NEW version
    ]
    assert [(r["valid_from_lsn"], r["is_current"]) for r in by_key["k2"]] == [(1, 1)]
    # null attrs collapse null-safely: one version, current
    assert [(r["attr"], r["is_current"]) for r in by_key["k3"]] == [(None, 1)]


def test_scd2_as_of_reads_point_in_time(feed):
    hist = scd2_history(feed, ["key"], "lsn", ["attr"])
    at3 = {r["key"]: r["attr"] for r in scd2_as_of(hist, 3).collect()}
    assert at3 == {"k1": "b", "k2": "a", "k3": None}
    # at LSN 4 k1 is deleted (tombstone closed version 2, none open)
    at4 = {r["key"]: r["attr"] for r in scd2_as_of(hist, 4).collect()}
    assert at4 == {"k2": "a", "k3": None}


def test_scd2_single_shuffle(feed):
    plan = scd2_history(feed, ["key"], "lsn", ["attr"])._jdf.queryExecution().executedPlan().toString()
    # both windows share (key, lsn) partitioning+order: exactly one exchange
    assert plan.count("Exchange hashpartitioning") == 1


# -------------------------------------------------- incremental SCD2 ----

EPOCH_FEEDS = {
    # split mid-run of no-ops: U(a)@2 | U(a)@3 must still collapse
    "noop_across_cut": ([("k", 1, "I", "a"), ("k", 2, "U", "a")],
                        [("k", 3, "U", "a"), ("k", 4, "U", "b")]),
    # split right after a tombstone; re-insert with same attrs re-opens
    "delete_then_reinsert": ([("k", 1, "I", "a"), ("k", 2, "D", None)],
                             [("k", 3, "I", "a")]),
    # tombstone as the delta's FIRST event closes the open version
    "leading_delete": ([("k", 1, "I", "a")],
                       [("k", 2, "D", None), ("k", 3, "U", "b")]),
    # brand-new key appears only in epoch 2
    "new_key": ([("k", 1, "I", "a")],
                [("j", 2, "I", "x"), ("k", 3, "U", "b")]),
    # delta is ALL no-ops: history must be unchanged (still current)
    "pure_noop_delta": ([("k", 1, "I", "a")],
                       [("k", 2, "U", "a"), ("k", 3, "U", "a")]),
    # delta touches a key with no open version (deleted last epoch)
    "only_tombstoned": ([("k", 1, "I", "a"), ("k", 2, "D", None)],
                        [("k", 3, "D", None)]),
}


@pytest.mark.parametrize("case", sorted(EPOCH_FEEDS))
def test_incremental_scd2_equals_one_shot(spark, tmp_path, case):
    from data_ingestion_resolution_platform_spark.operators.scd import historize_epoch
    from data_ingestion_resolution_platform_spark.sources.lake import LakeTable

    e1, e2 = EPOCH_FEEDS[case]
    schema = "key string, lsn long, op string, attr string"
    hist = LakeTable(spark, str(tmp_path / f"scd2_{case}"))
    for i, rows in enumerate((e1, e2)):
        historize_epoch(
            hist, spark.createDataFrame(rows, schema), ["key"], "lsn", ["attr"], i
        )
    one_shot = scd2_history(
        spark.createDataFrame(e1 + e2, schema), ["key"], "lsn", ["attr"]
    )
    got = hist.read().select(*one_shot.columns)
    assert got.exceptAll(one_shot).count() == 0
    assert one_shot.exceptAll(got).count() == 0


def test_incremental_scd2_rejects_out_of_order_delta(spark, tmp_path):
    from data_ingestion_resolution_platform_spark.operators.scd import historize_epoch
    from data_ingestion_resolution_platform_spark.sources.lake import LakeTable

    schema = "key string, lsn long, op string, attr string"
    hist = LakeTable(spark, str(tmp_path / "scd2_ooo"))
    historize_epoch(
        hist, spark.createDataFrame([("k", 10, "I", "a")], schema),
        ["key"], "lsn", ["attr"], 0,
    )
    before = sorted(map(tuple, hist.read().collect()))
    # delta at LSN 3 — before the open version's valid_from (10)
    late = spark.createDataFrame([("k", 3, "U", "b")], schema)
    with pytest.raises(ValueError, match="replay contract"):
        historize_epoch(hist, late, ["key"], "lsn", ["attr"], 1)
    # nothing written, epoch not committed — a corrected redelivery works
    assert sorted(map(tuple, hist.read().collect())) == before
    assert not hist.epoch_committed(1)


def test_incremental_scd2_epoch_idempotent(spark, tmp_path):
    from data_ingestion_resolution_platform_spark.operators.scd import historize_epoch
    from data_ingestion_resolution_platform_spark.sources.lake import LakeTable

    cols = ["key", "lsn", "op", "attr"]
    hist = LakeTable(spark, str(tmp_path / "scd2_idem"))
    e1 = spark.createDataFrame([("k", 1, "I", "a")], cols)
    e2 = spark.createDataFrame([("k", 2, "U", "b")], cols)
    historize_epoch(hist, e1, ["key"], "lsn", ["attr"], 0)
    historize_epoch(hist, e2, ["key"], "lsn", ["attr"], 1)
    before = sorted(map(tuple, hist.read().collect()))
    assert historize_epoch(hist, e2, ["key"], "lsn", ["attr"], 1)["skipped"]
    assert sorted(map(tuple, hist.read().collect())) == before


# --------------------------------------------------------------- fuzzy ----

def test_fuzzy_self_pairs_matches_unblocked_within_blocks(spark):
    rows = [
        (1, "kitten", 10), (2, "sitten", 10), (3, "sittin", 10),
        (4, "kitten", 20),  # other block: never compared to 1-3
        (5, "zebra", 10),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "blk"])
    got = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in fuzzy_self_pairs(df, "id", "name", ["blk"], max_dist=2).collect()
    }
    assert got == {(1, 2, 1), (1, 3, 2), (2, 3, 1)}


def test_fuzzy_banded_exact_recall_on_part(spark, sf_dir):
    """Length-bucket banding must be result-invisible: banded pairs ==
    plain-blocked pairs on the real part table (the registered query's
    configuration), including cross-bucket pairs near boundaries."""
    part = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_partkey", "p_name", "p_size")
    )
    plain = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in fuzzy_self_pairs(
            part, "p_partkey", "p_name", ["p_size"], max_dist=3
        ).collect()
    }
    banded = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in fuzzy_self_pairs(
            part, "p_partkey", "p_name", ["p_size"], max_dist=3,
            length_bucket_width=8,
        ).collect()
    }
    assert plain == banded and plain
    # the registered query's configuration: banding + duplicate collapse
    collapsed = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in fuzzy_self_pairs(
            part, "p_partkey", "p_name", ["p_size"], max_dist=3,
            length_bucket_width=4, collapse_exact=True,
        ).collect()
    }
    assert plain == collapsed


def test_fuzzy_collapse_exact_with_extras(spark):
    rows = [
        (1, "kitten", 10, "u"), (2, "kitten", 10, "v"),  # exact dups
        (3, "sittin", 10, "w"), (4, "zebra", 10, "x"),
        (5, "kitten", 20, "y"),  # other block
    ]
    df = spark.createDataFrame(rows, ["id", "name", "blk", "tag"])
    out = fuzzy_self_pairs(
        df, "id", "name", ["blk"], max_dist=2, extra_cols=["tag"],
        collapse_exact=True,
    )
    got = {
        (r["id_a"], r["id_b"], r["edit_dist"], r["tag_a"], r["tag_b"])
        for r in out.collect()
    }
    assert got == {
        (1, 2, 0, "u", "v"),
        (1, 3, 2, "u", "w"),
        (2, 3, 2, "v", "w"),
    }
    assert out.columns == [
        "blk", "id_a", "id_b", "text_a", "text_b", "tag_a", "tag_b", "edit_dist"
    ]


def test_fuzzy_banded_synthetic_boundary_pairs(spark):
    # names straddling a bucket boundary (len 7 vs 9 with width 8:
    # buckets 0 and 1) must still pair via the adjacent-bucket probe
    rows = [(1, "abcdefg", 0), (2, "abcdefgxy", 0), (3, "abcdefgx", 0)]
    df = spark.createDataFrame(rows, ["id", "name", "blk"])
    got = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_self_pairs(
            df, "id", "name", ["blk"], max_dist=2, length_bucket_width=8
        ).collect()
    }
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_fuzzy_banded_rejects_narrow_width(spark):
    df = spark.createDataFrame([(1, "a", 0)], ["id", "name", "blk"])
    with pytest.raises(ValueError, match="width"):
        fuzzy_self_pairs(
            df, "id", "name", ["blk"], max_dist=4, length_bucket_width=3
        ).collect()


# ---------------------------------------------------------------- topk ----

def test_grouped_topk_identical_to_window_under_skew(spark):
    # one hot key with 5k rows + uniform tail; ties on value broken by -id
    df = spark.range(6000).select(
        F.when(F.col("id") < 5000, F.lit(0)).otherwise(F.col("id") % 37).alias("k"),
        (F.col("id") % 101).cast("double").alias("v"),
        F.col("id"),
    )
    fast = grouped_topk(df, ["k"], [F.col("v"), -F.col("id")], k=4)
    w = Window.partitionBy("k").orderBy(F.col("v").desc(), F.col("id"))
    ref = (
        df.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 4)
        .select("v", "id", "k", "rank")
    )
    assert sorted(fast.columns) == sorted(ref.columns)
    assert fast.exceptAll(ref).count() == 0
    assert ref.exceptAll(fast).count() == 0


def test_grouped_topk_k_larger_than_group(spark):
    df = spark.createDataFrame([(1, 10.0), (1, 20.0)], ["k", "v"])
    got = grouped_topk(df, ["k"], [F.col("v")], k=5).collect()
    assert [(r["v"], r["rank"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (20.0, 1), (10.0, 2),
    ]
