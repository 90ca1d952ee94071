"""``lookup``, the one key-probe of a stored table, on all three layouts
of the MERGE contract (``sources/lake.py``): exactly the stored rows of
the probed keys, or ``None`` before the first commit."""

from __future__ import annotations

import pytest

from data_ingestion_resolution_platform_spark.sources.lake import (
    DELETE_COL,
    LakeTable,
    MorLakeTable,
    PartitionedLakeTable,
)

KEYS = ["repo", "path"]
SCHEMA = "repo string, path string, lsn long, v long"
EPOCH1 = [("r1", "a", 1, 10), ("r1", "b", 2, 20), ("r2", "c", 3, 30), ("r3", "d", 4, 40)]
# an update, a delete and an insert: on the MOR layout this epoch stays
# an unfolded delta over the compacted first epoch
EPOCH2 = [("r1", "a", 5, 11, False), ("r2", "c", 6, 30, True), ("r2", "e", 7, 50, False)]
STATE = {("r1", "a", 5, 11), ("r1", "b", 2, 20), ("r2", "e", 7, 50), ("r3", "d", 4, 40)}

LAYOUTS = {
    "cow": lambda spark, root: LakeTable(spark, root),
    "bucketed": lambda spark, root: PartitionedLakeTable(spark, root, ["repo"], n_buckets=4),
    "mor": lambda spark, root: MorLakeTable(spark, root, keys=KEYS, lsn_col="lsn"),
}


def _rows(df):
    return {(r.repo, r.path, r.lsn, r.v) for r in df.select("repo", "path", "lsn", "v").collect()}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_lookup_returns_exactly_the_stored_rows_of_the_keys(spark, tmp_path, layout):
    table = LAYOUTS[layout](spark, str(tmp_path / layout))
    probe = spark.createDataFrame([("r1", "a")], "repo string, path string")
    assert table.lookup(probe) is None  # nothing committed yet

    table.merge(spark.createDataFrame(EPOCH1, SCHEMA), KEYS, epoch_id=1)
    if layout == "mor":
        table.compact()
    table.merge(
        spark.createDataFrame(EPOCH2, f"{SCHEMA}, {DELETE_COL} boolean"), KEYS, epoch_id=2
    )
    if layout == "mor":
        assert table.n_deltas() == 1
    assert _rows(table.read()) == STATE

    cases = {
        # composite key: an updated key, a deleted one, an untouched one
        "composite": (
            spark.createDataFrame(
                [("r1", "a"), ("r2", "c"), ("r3", "d")], "repo string, path string"
            ),
            lambda r: (r[0], r[1]) in {("r1", "a"), ("r2", "c"), ("r3", "d")},
        ),
        # group prefix of the key: every stored row of the group
        "prefix": (
            spark.createDataFrame([("r2",), ("r1",)], "repo string"),
            lambda r: r[0] in {"r1", "r2"},
        ),
        "absent": (
            spark.createDataFrame([("r9", "zz")], "repo string, path string"),
            lambda r: False,
        ),
    }
    for name, (keys, wanted) in cases.items():
        got = table.lookup(keys)
        assert sorted(got.columns) == sorted(table.read().columns), name
        assert _rows(got) == {r for r in STATE if wanted(r)}, name


def test_lookup_broadcasts_the_keys(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"))
    table.merge(spark.createDataFrame(EPOCH1, SCHEMA), KEYS, epoch_id=1)
    keys = spark.createDataFrame([("r1",)], "repo string")
    plan = table.lookup(keys)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
