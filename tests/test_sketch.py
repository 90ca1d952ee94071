"""Mergeable sketches: KMV distinct + count-min frequency (operators/sketch.py).

Reference parity note: the reference recomputes summary counts by
rescanning its resolved tables (backend/worker.py finalize); the sketch
layer is the bounded-state replacement — these tests pin the sketches
to exact Python recomputes and the maintainers to batch rebuilds.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators import ivm
from data_ingestion_resolution_platform_spark.operators.sketch import (
    HASH_SPACE,
    MIX_A,
    MIX_B,
    cms_cells,
    cms_lookup,
    cms_seeds,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
    maintain_cms,
    maintain_kmv,
)
from data_ingestion_resolution_platform_spark.sources.lake import LakeTable


def _poly(s: str, base: int = 131, mod: int = HASH_SPACE) -> int:
    acc = 0
    for c in s:
        acc = (acc * base + ord(c)) % mod
    return acc


def _kmv(s: str) -> int:
    return (_poly(s) * MIX_A + MIX_B) % HASH_SPACE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def people(spark):
    data = [
        Row(g="a", v=f"user{i % 7}") for i in range(40)
    ] + [Row(g="b", v=f"user{i}") for i in range(25)] + [Row(g="b", v=None)]
    return spark.createDataFrame(data)


def test_kmv_sketch_matches_python(spark, people):
    got = {r["g"]: list(r["kmv"]) for r in kmv_sketch(people, ["g"], "v", k=10).collect()}
    exp_a = sorted({_kmv(f"user{i % 7}") for i in range(40)})
    exp_b = sorted({_kmv(f"user{i}") for i in range(25)} | {_kmv("")})[:10]
    assert got["a"] == exp_a  # 7 distinct < k: whole set, sorted
    assert got["b"] == exp_b  # truncated to the 10 smallest; NULL folds to ''


def test_kmv_estimate_exact_below_k_and_formula_at_k(spark, people):
    sk = kmv_sketch(people, ["g"], "v", k=10)
    est = {r["g"]: r["e"] for r in sk.select("g", kmv_estimate("kmv", 10).alias("e")).collect()}
    assert est["a"] == 7  # sketch not full -> exact count
    v10 = sorted({_kmv(f"user{i}") for i in range(25)} | {_kmv("")})[9]
    assert est["b"] == (9 * HASH_SPACE) // v10


def test_kmv_estimate_accuracy_bound(spark, sf_dir):
    # k=64 over ~250 distinct commits/repo: relative error well inside 3/sqrt(k)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    sk = kmv_sketch(orders, ["o_orderpriority"], "o_custkey", k=64)
    out = sk.select(
        "o_orderpriority", kmv_estimate("kmv", 64).alias("est")
    ).join(
        orders.groupBy("o_orderpriority").agg(
            F.countDistinct("o_custkey").alias("exact")
        ),
        "o_orderpriority",
    )
    for r in out.collect():
        assert abs(r["est"] - r["exact"]) / r["exact"] < 3 / (64 ** 0.5)


def test_kmv_merge_equals_combined_build(spark, people):
    half1 = people.filter(F.col("v").isNull() | (F.length("v") % 2 == 0))
    half2 = people.subtract(half1)
    s1 = kmv_sketch(half1, ["g"], "v", k=10).withColumnRenamed("kmv", "k1")
    s2 = kmv_sketch(half2, ["g"], "v", k=10).withColumnRenamed("kmv", "k2")
    empty = F.array().cast("array<bigint>")
    merged = (
        s1.join(s2, "g", "full_outer")
        .select(
            "g",
            kmv_merge(
                F.coalesce("k1", empty), F.coalesce("k2", empty), 10
            ).alias("kmv"),
        )
    )
    assert _rows(merged.select("g", F.col("kmv").cast("string"))) == _rows(
        kmv_sketch(people, ["g"], "v", k=10).select("g", F.col("kmv").cast("string"))
    )


def test_maintain_kmv_incremental_equals_batch(spark, people, tmp_path):
    root = str(tmp_path / "kmv")
    t = LakeTable(spark, root)
    e1 = people.filter(F.col("v").isNull() | F.col("v").endswith("1")).withColumn(
        "change_type", F.lit("insert")
    )
    e2 = people.subtract(e1.drop("change_type")).withColumn(
        "change_type", F.lit("insert")
    )
    maintain_kmv(t, e1, ["g"], "v", k=10, epoch_id="e1")
    maintain_kmv(t, e2, ["g"], "v", k=10, epoch_id="e2")
    # replaying a committed epoch is a no-op (exactly-once ledger)
    res = maintain_kmv(t, e2, ["g"], "v", k=10, epoch_id="e2")
    assert res.get("skipped")
    got = _rows(t.read().select("g", F.col("kmv").cast("string")))
    want = _rows(kmv_sketch(people, ["g"], "v", k=10).select("g", F.col("kmv").cast("string")))
    assert got == want


def test_maintain_kmv_refuses_retractions(spark, people, tmp_path):
    t = LakeTable(spark, str(tmp_path / "kmv_bad"))
    bad = people.withColumn("change_type", F.lit("delete"))
    with pytest.raises(ValueError, match="insert-only") as err:
        maintain_kmv(t, bad, ["g"], "v", k=10, epoch_id="e1")
    # the advice names maintainers that exist
    cited = re.findall(r"ivm\.(\w+)", str(err.value))
    assert cited and all(hasattr(ivm, name) for name in cited), cited


def _cms_python(items: list[str], depth: int, width: int) -> dict:
    cells: dict[tuple[int, int], int] = {}
    for it in items:
        h = _poly(it)
        for d, (a, b) in enumerate(cms_seeds(depth)):
            cells[(d, ((h * a + b) % HASH_SPACE) % width)] = (
                cells.get((d, ((h * a + b) % HASH_SPACE) % width), 0) + 1
            )
    return cells


def test_cms_cells_match_python(spark):
    items = [f"it{i % 9}" for i in range(50)]
    df = spark.createDataFrame([Row(x=i) for i in items])
    got = {(r["d"], r["bucket"]): r["cnt"] for r in cms_cells(df, F.col("x"), 3, 16).collect()}
    assert got == _cms_python(items, 3, 16)


def test_cms_lookup_overestimates_and_bounds(spark):
    items = [f"it{i % 9}" for i in range(50)] + ["hot"] * 30
    df = spark.createDataFrame([Row(x=i) for i in items])
    cells = cms_cells(df, F.col("x"), 4, 8)  # narrow: force collisions
    cand = spark.createDataFrame([Row(x=x) for x in sorted(set(items))])
    est = {r["x"]: r["est_count"] for r in cms_lookup(cells, cand, "x", 4, 8).collect()}
    from collections import Counter

    true = Counter(items)
    for x, t in true.items():
        assert est[x] >= t  # CM never undercounts
        assert est[x] <= len(items)  # and never exceeds the stream size


def test_maintain_cms_equals_rebuild_of_final_state(spark, tmp_path):
    # invertible feed: inserts, an update moving an item, a delete
    v1 = [Row(k=i, x=f"it{i % 5}") for i in range(30)]
    df1 = spark.createDataFrame(v1)
    t = LakeTable(spark, str(tmp_path / "cms"))
    t.merge(cms_cells(df1, F.col("x"), 4, 16), ["d", "bucket"], epoch_id="seed")
    changes = spark.createDataFrame(
        [Row(k=1, x="it1", change_type="update_preimage"),
         Row(k=1, x="brand_new", change_type="update_postimage"),
         Row(k=2, x="it2", change_type="delete"),
         Row(k=99, x="it0", change_type="insert")]
    )
    maintain_cms(t, changes, "x", 4, 16, epoch_id="e1")
    # idempotent re-apply
    res = maintain_cms(t, changes, "x", 4, 16, epoch_id="e1")
    assert res.get("skipped")
    final = [Row(k=i, x=f"it{i % 5}") for i in range(30) if i not in (1, 2)]
    final += [Row(k=1, x="brand_new"), Row(k=99, x="it0")]
    want = _rows(cms_cells(spark.createDataFrame(final), F.col("x"), 4, 16))
    assert _rows(t.read()) == want
