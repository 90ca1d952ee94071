"""Non-additive IVM: COUNT(DISTINCT) via multiplicity zero-crossings
(maintain_distinct) and MIN/MAX via dirty-group rescan (maintain_minmax),
plus the Δ-maintained IVF index (maintain_ivf_index).

Every test drives the maintainer with a snapshot_diff epoch and asserts
the maintained state equals the aggregate recomputed from scratch on the
post-state — the same contract the driver's oracle gate enforces.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.ivm import (
    maintain_distinct,
    maintain_minmax,
    maintain_topk,
)
from data_ingestion_resolution_platform_spark.operators.similarity import (
    IVF_KEYS,
    ivf_index,
    maintain_ivf_index,
)
from data_ingestion_resolution_platform_spark.sources.lake import (
    LakeTable,
    PartitionedLakeTable,
    snapshot_diff,
)

SCHEMA = "repo string, path string, lang string, size long"

# v1 -> v2 exercises every non-additive hazard:
# - (r1): inserting a DUPLICATE lang value (py again) must not bump distinct;
#   deleting one of two py rows must not drop it either
# - (r2): deleting the LAST md row must decrement distinct; the deleted row
#   also holds the group max -> minmax dirty rescan
# - (r3): group fully emptied -> both maintained tables drop the group
# - (r4): brand-new group
# - (r1 f.md -> f.rs): lang update moves a value between multiplicity keys
V1 = [
    ("r1", "a.py", "py", 10),
    ("r1", "b.py", "py", 40),   # deleted: ties (r1) max -> dirty rescan
    ("r1", "f.md", "md", 25),   # lang update md->rs: distinct set changes
    ("r2", "c.md", "md", 70),   # deleted: last md in r2 AND the group max
    ("r2", "d.go", "go", 30),
    ("r3", "e.rs", "rs", 5),    # deleted: group r3 vanishes
]
V2 = [
    ("r1", "a.py", "py", 10),
    ("r1", "g.py", "py", 15),   # duplicate-value insert
    ("r1", "f.rs", "rs", 25),
    ("r2", "d.go", "go", 30),
    ("r4", "h.ts", "ts", 99),   # new group
]


def _snapshots(spark):
    return spark.createDataFrame(V1, SCHEMA), spark.createDataFrame(V2, SCHEMA)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_maintain_distinct_matches_recompute(spark, tmp_path):
    v1, v2 = _snapshots(spark)
    mult = LakeTable(spark, str(tmp_path / "mult"))
    counts = LakeTable(spark, str(tmp_path / "counts"))
    mult.merge(
        v1.groupBy("repo", "lang").agg(F.count("*").cast("long").alias("_mult")),
        ["repo", "lang"],
        epoch_id="seed",
    )
    counts.merge(
        v1.groupBy("repo").agg(
            F.countDistinct("lang").cast("long").alias("n_distinct"),
            F.count("*").cast("long").alias("n_rows"),
        ),
        ["repo"],
        epoch_id="seed",
    )
    changes = snapshot_diff(v1, v2, ["repo", "path"], include_preimages=True)
    maintain_distinct(mult, counts, changes, ["repo"], "lang", epoch_id="e2")
    expect = v2.groupBy("repo").agg(
        F.countDistinct("lang").cast("long").alias("n_distinct"),
        F.count("*").cast("long").alias("n_rows"),
    )
    got = _rows(counts.read(), "repo", "n_distinct", "n_rows")
    assert got == _rows(expect, "repo", "n_distinct", "n_rows")
    # r1 kept 2 distinct (py dup insert didn't bump; md->rs swap is a wash),
    # r2 dropped to 1, r3 is gone, r4 appeared
    assert got == [("r1", 2, 3), ("r2", 1, 1), ("r4", 1, 1)]
    # multiplicity side table matches the post-state value histogram
    expect_mult = v2.groupBy("repo", "lang").agg(F.count("*").cast("long").alias("_mult"))
    assert _rows(mult.read(), "repo", "lang", "_mult") == _rows(
        expect_mult, "repo", "lang", "_mult"
    )


def test_maintain_distinct_redelivery_and_ledger_guard(spark, tmp_path):
    v1, v2 = _snapshots(spark)
    mult = LakeTable(spark, str(tmp_path / "mult"))
    counts = LakeTable(spark, str(tmp_path / "counts"))
    changes = snapshot_diff(v1, v2, ["repo", "path"], include_preimages=True)
    # bootstrap from empty state: v1 arrives as an insert-only epoch
    e1 = v1.withColumn("change_type", F.lit("insert"))
    maintain_distinct(mult, counts, e1, ["repo"], "lang", epoch_id="e1")
    maintain_distinct(mult, counts, changes, ["repo"], "lang", epoch_id="e2")
    before = _rows(counts.read(), "repo", "n_distinct", "n_rows")
    # redelivering a committed epoch is a no-op
    out = maintain_distinct(mult, counts, changes, ["repo"], "lang", epoch_id="e2")
    assert out == {"skipped": True, "epoch": "e2"}
    assert _rows(counts.read(), "repo", "n_distinct", "n_rows") == before
    # divergent ledgers (mult ahead of counts) must refuse, not corrupt
    mult.merge(
        mult.read().limit(0), ["repo", "lang"], epoch_id="e3"
    )
    with pytest.raises(RuntimeError, match="count table"):
        maintain_distinct(mult, counts, changes, ["repo"], "lang", epoch_id="e3")


def test_maintain_distinct_null_values_follow_sql_semantics(spark, tmp_path):
    # SQL COUNT(DISTINCT) ignores NULLs: null-valued rows count toward
    # n_rows but never toward n_distinct, and they must not poison the
    # multiplicity MERGE key (null never equi-matches itself)
    v1 = spark.createDataFrame(
        [("r1", "a", "py", 1), ("r1", "b", None, 2), ("r1", "c", None, 3)],
        SCHEMA,
    )
    v2 = spark.createDataFrame(
        [("r1", "a", "py", 1), ("r1", "b", None, 2), ("r1", "d", "rs", 4)],
        SCHEMA,
    )
    mult = LakeTable(spark, str(tmp_path / "mult"))
    counts = LakeTable(spark, str(tmp_path / "counts"))
    e1 = v1.withColumn("change_type", F.lit("insert"))
    maintain_distinct(mult, counts, e1, ["repo"], "lang", epoch_id="e1")
    assert _rows(counts.read(), "repo", "n_distinct", "n_rows") == [("r1", 1, 3)]
    changes = snapshot_diff(v1, v2, ["repo", "path"], include_preimages=True)
    maintain_distinct(mult, counts, changes, ["repo"], "lang", epoch_id="e2")
    # v2: langs {py, rs, NULL} -> 2 distinct, 3 rows
    assert _rows(counts.read(), "repo", "n_distinct", "n_rows") == [("r1", 2, 3)]
    # the multiplicity table holds only non-null values
    assert _rows(mult.read(), "repo", "lang", "_mult") == [
        ("r1", "py", 1),
        ("r1", "rs", 1),
    ]


def test_maintain_minmax_matches_recompute(spark, tmp_path):
    v1, v2 = _snapshots(spark)
    t = LakeTable(spark, str(tmp_path / "mm"))
    t.merge(
        v1.groupBy("repo").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("size").alias("min_v"),
            F.max("size").alias("max_v"),
        ),
        ["repo"],
        epoch_id="seed",
    )
    changes = snapshot_diff(v1, v2, ["repo", "path"], include_preimages=True)
    maintain_minmax(t, changes, v2, ["repo"], "size", epoch_id="e2")
    expect = v2.groupBy("repo").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("size").alias("min_v"),
        F.max("size").alias("max_v"),
    )
    got = _rows(t.read(), "repo", "n_rows", "min_v", "max_v")
    assert got == _rows(expect, "repo", "n_rows", "min_v", "max_v")
    # r1's max fell 40->25 (dirty rescan), r2's fell 70->30, r3 is gone
    assert got == [("r1", 3, 10, 25), ("r2", 1, 30, 30), ("r4", 1, 99, 99)]


def test_maintain_minmax_clean_path_skips_rescan(spark, tmp_path):
    # interior retraction: delete a value strictly inside (min, max) and
    # insert a new max — no rescan needed, pure delta maintenance
    v1 = spark.createDataFrame(
        [("r1", "a", "py", 10), ("r1", "b", "py", 20), ("r1", "c", "py", 30)],
        SCHEMA,
    )
    v2 = spark.createDataFrame(
        [("r1", "a", "py", 10), ("r1", "c", "py", 30), ("r1", "d", "py", 50)],
        SCHEMA,
    )
    t = LakeTable(spark, str(tmp_path / "mm"))
    t.merge(
        v1.groupBy("repo").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("size").alias("min_v"),
            F.max("size").alias("max_v"),
        ),
        ["repo"],
        epoch_id="seed",
    )
    changes = snapshot_diff(v1, v2, ["repo", "path"], include_preimages=True)
    # poisoned base: if the maintainer rescanned here it would see garbage
    poisoned = v2.withColumn("size", F.lit(-999).cast("long"))
    maintain_minmax(t, changes, poisoned, ["repo"], "size", epoch_id="e2")
    assert _rows(t.read(), "repo", "n_rows", "min_v", "max_v") == [("r1", 3, 10, 50)]


def test_maintain_minmax_redelivery(spark, tmp_path):
    v1, v2 = _snapshots(spark)
    t = LakeTable(spark, str(tmp_path / "mm"))
    changes = snapshot_diff(v1, v2, ["repo", "path"], include_preimages=True)
    e1 = v1.withColumn("change_type", F.lit("insert"))
    maintain_minmax(t, e1, v1, ["repo"], "size", epoch_id="e1")
    maintain_minmax(t, changes, v2, ["repo"], "size", epoch_id="e2")
    before = _rows(t.read(), "repo", "n_rows", "min_v", "max_v")
    out = maintain_minmax(t, changes, v2, ["repo"], "size", epoch_id="e2")
    assert out == {"skipped": True, "epoch": "e2"}
    assert _rows(t.read(), "repo", "n_rows", "min_v", "max_v") == before


def _seed_topk(spark, tmp_path, v1, k=2):
    from pyspark.sql import Window

    t = LakeTable(spark, str(tmp_path / "topk"))
    w = Window.partitionBy("repo").orderBy(F.col("size").desc(), "path")
    t.merge(
        v1.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn"),
        ["repo", "path"],
        epoch_id="seed",
    )
    return t


def _expect_topk(df, k=2):
    from pyspark.sql import Window

    w = Window.partitionBy("repo").orderBy(F.col("size").desc(), "path")
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def test_maintain_topk_matches_recompute(spark, tmp_path):
    # V1/V2 hit every path: r1 loses an in-buffer row (40) -> back-fill
    # rescan; r1 gains 15 (below new cutoff) and keeps 25; r2 loses its
    # top row; r3 empties; r4 is new
    v1, v2 = _snapshots(spark)
    t = _seed_topk(spark, tmp_path, v1)
    changes = snapshot_diff(v1, v2, ["repo", "path"], include_preimages=True)
    maintain_topk(t, changes, v2, ["repo"], ["path"], "size", k=2, epoch_id="e2")
    got = _rows(t.read(), "repo", "path", "size")
    assert got == _rows(_expect_topk(v2), "repo", "path", "size")


def test_maintain_topk_clean_insert_skips_rescan(spark, tmp_path):
    # insert a new top row into a full group; no retraction touches the
    # buffer, so a poisoned base proves the clean path never reads it
    v1 = spark.createDataFrame(
        [("r1", "a", "py", 10), ("r1", "b", "py", 20), ("r1", "c", "py", 30)],
        SCHEMA,
    )
    v2 = spark.createDataFrame(
        [("r1", "a", "py", 10), ("r1", "b", "py", 20), ("r1", "c", "py", 30),
         ("r1", "d", "py", 50)],
        SCHEMA,
    )
    t = _seed_topk(spark, tmp_path, v1)
    changes = snapshot_diff(v1, v2, ["repo", "path"], include_preimages=True)
    poisoned = v2.withColumn("size", F.lit(-1).cast("long"))
    maintain_topk(t, changes, poisoned, ["repo"], ["path"], "size", k=2, epoch_id="e2")
    # new top-2 is (d, 50), (c, 30); b displaced out of the view
    assert _rows(t.read(), "repo", "path", "size") == [("r1", "c", 30), ("r1", "d", 50)]


def test_maintain_topk_demoting_update_backfills(spark, tmp_path):
    # update demotes the stored #1 below everything -> dirty rescan must
    # back-fill the unstored row c
    v1 = spark.createDataFrame(
        [("r1", "a", "py", 100), ("r1", "b", "py", 90), ("r1", "c", "py", 80)],
        SCHEMA,
    )
    v2 = spark.createDataFrame(
        [("r1", "a", "py", 1), ("r1", "b", "py", 90), ("r1", "c", "py", 80)],
        SCHEMA,
    )
    t = _seed_topk(spark, tmp_path, v1)
    changes = snapshot_diff(v1, v2, ["repo", "path"], include_preimages=True)
    maintain_topk(t, changes, v2, ["repo"], ["path"], "size", k=2, epoch_id="e2")
    assert _rows(t.read(), "repo", "path", "size") == [("r1", "b", 90), ("r1", "c", 80)]
    # redelivery is a no-op
    out = maintain_topk(t, changes, v2, ["repo"], ["path"], "size", k=2, epoch_id="e2")
    assert out == {"skipped": True, "epoch": "e2"}


def test_quantiles_from_multiplicity_exact(spark):
    from data_ingestion_resolution_platform_spark.operators.ivm import (
        quantiles_from_multiplicity,
    )

    # histogram for g1: values 1x3, 5x1, 9x2 (n=6) -> p50 at rank>=3 is 1,
    # p90 at rank>=ceil(5.4)=6 is 9; g2: single value
    mult = spark.createDataFrame(
        [("g1", 1, 3), ("g1", 5, 1), ("g1", 9, 2), ("g2", 7, 1)],
        "g string, v long, _mult long",
    )
    out = quantiles_from_multiplicity(mult, ["g"], "v", {"p50": 0.5, "p90": 0.9})
    rows = {r.g: (r.n_rows, r.p50, r.p90) for r in out.collect()}
    assert rows == {"g1": (6, 1, 9), "g2": (1, 7, 7)}


VEC_SCHEMA = "vec_id long, embedding array<float>"


def _vecs(spark):
    v1 = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 1.0, 0.0]),   # deleted in v2
            (3, [0.5, 0.5, 0.0, 0.0]),   # updated in v2 (vector flips)
        ],
        VEC_SCHEMA,
    )
    v2 = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.5, 0.5]),
            (4, [0.0, 0.0, 0.0, 1.0]),   # inserted
        ],
        VEC_SCHEMA,
    )
    return v1, v2


@pytest.mark.parametrize("kind", ["lake", "bucketed"])
def test_maintain_ivf_index_equals_rebuild(spark, tmp_path, kind):
    v1, v2 = _vecs(spark)
    root = str(tmp_path / "ivf")
    idx = (
        LakeTable(spark, root)
        if kind == "lake"
        else PartitionedLakeTable(spark, root, bucket_keys=["cell"], n_buckets=4)
    )
    idx.merge(
        ivf_index(v1, "embedding", "vec_id", n_cells=4, portable=True),
        IVF_KEYS,
        epoch_id="seed",
    )
    changes = snapshot_diff(v1, v2, ["vec_id"], include_preimages=True)
    maintain_ivf_index(
        idx, changes, "embedding", "vec_id", n_cells=4, portable=True, epoch_id="e2"
    )
    rebuilt = ivf_index(v2, "embedding", "vec_id", n_cells=4, portable=True)
    got = sorted(
        (r.neighbor_id, tuple(r.cq), r.cell) for r in idx.read().collect()
    )
    want = sorted((r.neighbor_id, tuple(r.cq), r.cell) for r in rebuilt.collect())
    assert got == want
    # the deleted id is gone, the inserted one present
    ids = {t[0] for t in got}
    assert 2 not in ids and 4 in ids
    # redelivery is a no-op
    out = maintain_ivf_index(
        idx, changes, "embedding", "vec_id", n_cells=4, portable=True, epoch_id="e2"
    )
    assert out == {"skipped": True, "epoch": "e2"}
