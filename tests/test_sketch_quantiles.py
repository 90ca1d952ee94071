"""Quantile-sample sketch (bottom-k row sample) property tests.

The sketch family's third member (KMV = distinct, CMS = frequency,
qsample = quantiles). Pinned properties:

- EXACT merge homomorphism: merge(sk(A), sk(B)) == sk(A ∪ B) for
  disjoint row ids — the algebra that makes partials combine across
  partitions, epochs, and tables.
- maintained-across-epochs == one-shot build (the oracle contract).
- redelivery idempotence (epoch ledger + full-struct dedupe).
- insert-only contract: retraction feeds are refused loudly.
- bounded state: ≤ k structs per group at every corpus size.
- estimator quality: sample order statistic lands within the standard
  O(1/sqrt(k)) rank band of the true quantile.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators import ivm
from data_ingestion_resolution_platform_spark.operators.sketch import (
    maintain_qsample,
    qsample_merge,
    qsample_quantile,
    qsample_sketch,
)
from data_ingestion_resolution_platform_spark.sources.lake import LakeTable


def _rows(spark, ids, group_of, value_of):
    return spark.createDataFrame(
        [(group_of(i), i, value_of(i)) for i in ids], "g string, id long, v long"
    )


def _as_map(df):
    return {r["g"]: [(s["h"], s["i"], s["v"]) for s in r["qs"]] for r in df.collect()}


def test_merge_homomorphism_exact(spark):
    a = _rows(spark, range(0, 400), lambda i: f"g{i % 3}", lambda i: (i * 7919) % 1000)
    b = _rows(spark, range(400, 900), lambda i: f"g{i % 3}", lambda i: (i * 104729) % 1000)
    k = 32
    sk_union = _as_map(qsample_sketch(a.unionByName(b), ["g"], "v", "id", k=k))
    merged = (
        qsample_sketch(a, ["g"], "v", "id", k=k)
        .alias("l")
        .join(qsample_sketch(b, ["g"], "v", "id", k=k).alias("r"), on="g")
        .select("g", qsample_merge(F.col("l.qs"), F.col("r.qs"), k).alias("qs"))
    )
    assert _as_map(merged) == sk_union


def test_merge_idempotent_and_commutative(spark):
    a = _rows(spark, range(0, 300), lambda i: "g", lambda i: i % 50)
    sk = qsample_sketch(a, ["g"], "v", "id", k=16)
    self_merged = sk.select("g", qsample_merge(F.col("qs"), F.col("qs"), 16).alias("qs"))
    assert _as_map(self_merged) == _as_map(sk)


def test_maintained_equals_one_shot(spark, tmp_path):
    ids = list(range(1000))
    full = _rows(spark, ids, lambda i: f"g{i % 4}", lambda i: (i * 31) % 500)
    t = LakeTable(spark, str(tmp_path / "qs"))
    for e, lo in enumerate([0, 300, 700], start=1):
        hi = [300, 700, 1000][e - 1]
        part = _rows(
            spark, range(lo, hi), lambda i: f"g{i % 4}", lambda i: (i * 31) % 500
        ).withColumn("change_type", F.lit("insert"))
        maintain_qsample(t, part, ["g"], "v", "id", k=24, epoch_id=e)
    assert _as_map(t.read()) == _as_map(qsample_sketch(full, ["g"], "v", "id", k=24))


def test_redelivery_is_noop(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "qs"))
    part = _rows(spark, range(100), lambda i: "g", lambda i: i).withColumn(
        "change_type", F.lit("insert")
    )
    maintain_qsample(t, part, ["g"], "v", "id", k=16, epoch_id=1)
    before = _as_map(t.read())
    out = maintain_qsample(t, part, ["g"], "v", "id", k=16, epoch_id=1)
    assert out == {"skipped": True, "epoch": "1"}
    assert _as_map(t.read()) == before


def test_retractions_refused(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "qs"))
    bad = _rows(spark, range(10), lambda i: "g", lambda i: i).withColumn(
        "change_type", F.lit("delete")
    )
    with pytest.raises(ValueError, match="insert-only") as err:
        maintain_qsample(t, bad, ["g"], "v", "id", k=16, epoch_id=1)
    # the advice names maintainers that exist
    cited = re.findall(r"ivm\.(\w+)", str(err.value))
    assert cited and all(hasattr(ivm, name) for name in cited), cited


def test_bounded_state_and_fill(spark):
    small = _rows(spark, range(5), lambda i: "g", lambda i: i)
    big = _rows(spark, range(5000), lambda i: "g", lambda i: i)
    assert qsample_sketch(small, ["g"], "v", "id", k=64).select(
        F.size("qs")
    ).first()[0] == 5
    assert qsample_sketch(big, ["g"], "v", "id", k=64).select(
        F.size("qs")
    ).first()[0] == 64


def test_quantile_rank_error_bound(spark):
    # 20k uniform values 0..19999, k=256: sampling theory puts the rank
    # error of the sample median within ~2/sqrt(k) ≈ 0.125 whp; assert a
    # generous 0.15 band so the test pins quality without flaking.
    n, k = 20_000, 256
    df = _rows(spark, range(n), lambda i: "g", lambda i: (i * 7919) % n)
    sk = qsample_sketch(df, ["g"], "v", "id", k=k)
    for num, den in [(1, 2), (9, 10)]:
        est = sk.select(qsample_quantile("qs", num, den).alias("q")).first()["q"]
        true_rank = num / den
        est_rank = (est + 1) / n  # values are a permutation of 0..n-1
        assert abs(est_rank - true_rank) < 0.15, (num, den, est)
