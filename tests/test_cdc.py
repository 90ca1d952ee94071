"""CDC operator semantics: LWW/first-writer winners, conflicts,
apply-changes tombstones, lake-table MERGE idempotency (SURVEY.md §2.3,
§2.7, §5 layers 2-4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.functions import content_sha256
from data_ingestion_resolution_platform_spark.operators.cdc import (
    apply_changes,
    detect_conflicts,
    resolve_first,
    resolve_latest,
    resolve_with_choices,
)
from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
from data_ingestion_resolution_platform_spark.sources.lake import DELETE_COL, LakeTable

FEED_SCHEMA = "lsn long, op string, repo string, path string, lang string, content string"

ROWS = [
    (1, "I", "r1", "a.py", "py", "v1"),
    (2, "U", "r1", "a.py", "py", "v2"),
    (5, "U", "r1", "a.py", "py", "v5"),
    (3, "I", "r1", "b.py", "py", "b1"),
    (4, "D", "r1", "b.py", "py", ""),
    (6, "I", "r2", "c.rs", "rs", "c1"),
]


def feed(spark):
    return spark.createDataFrame(ROWS, FEED_SCHEMA)


def test_resolve_latest_lww(spark):
    out = resolve_latest(feed(spark), ["repo", "path"], "lsn")
    state = {(r["repo"], r["path"]): (r["lsn"], r["content"]) for r in out.collect()}
    assert state[("r1", "a.py")] == (5, "v5")
    assert state[("r1", "b.py")] == (4, "")
    assert state[("r2", "c.rs")] == (6, "c1")


def test_resolve_latest_strategies_match(spark):
    a = resolve_latest(feed(spark), ["repo", "path"], "lsn", strategy="agg")
    b = resolve_latest(feed(spark), ["repo", "path"], "lsn", strategy="window")
    c = resolve_latest(feed(spark), ["repo", "path"], "lsn", strategy="salted")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, c.collect()))


def test_resolve_first(spark):
    out = resolve_first(feed(spark), ["repo", "path"], "lsn")
    state = {(r["repo"], r["path"]): r["lsn"] for r in out.collect()}
    assert state[("r1", "a.py")] == 1


def test_apply_changes_tombstones(spark):
    out = apply_changes(feed(spark), ["repo", "path"], "lsn")
    keys = {(r["repo"], r["path"]) for r in out.collect()}
    assert ("r1", "b.py") not in keys  # last op was D
    assert keys == {("r1", "a.py"), ("r2", "c.rs")}


def test_apply_changes_idempotent_replay(spark):
    once = apply_changes(feed(spark), ["repo", "path"], "lsn")
    twice = apply_changes(
        feed(spark).unionByName(feed(spark)), ["repo", "path"], "lsn"
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_detect_conflicts(spark):
    # same key, two distinct (lang, sha) signatures ⇒ conflict
    df = feed(spark)
    sig = F.struct(F.col("lang"), content_sha256(F.col("content")))
    conflicts = detect_conflicts(
        df, ["repo", "path"], sig, "lsn", candidate_cols=["content"], max_candidates=5
    )
    rows = {(r["repo"], r["path"]): r for r in conflicts.collect()}
    assert ("r1", "a.py") in rows
    assert rows[("r1", "a.py")]["n_signatures"] == 3
    assert ("r2", "c.rs") not in rows
    # candidates sorted by lsn desc, bounded
    cands = rows[("r1", "a.py")]["candidates"]
    assert [c["lsn"] for c in cands] == [5, 2, 1]


def test_resolve_with_choices_overrides_lww(spark):
    choices = spark.createDataFrame(
        [("r1", "a.py", 2)], "repo string, path string, chosen_lsn long"
    )
    out = resolve_with_choices(feed(spark), choices, ["repo", "path"], "lsn")
    state = {(r["repo"], r["path"]): r["lsn"] for r in out.collect()}
    assert state[("r1", "a.py")] == 2  # user choice beats lsn=5
    assert state[("r2", "c.rs")] == 6  # others unaffected


def test_lake_merge_exactly_once(spark, tmp_path):
    tbl = LakeTable(spark, str(tmp_path / "target"))
    batch1 = apply_changes(feed(spark), ["repo", "path"], "lsn")
    tbl.merge(batch1, ["repo", "path"], epoch_id=1)
    assert tbl.read().count() == 2
    # duplicate delivery of epoch 1 is a no-op
    stats = tbl.merge(batch1, ["repo", "path"], epoch_id=1)
    assert stats.get("skipped") is True
    assert tbl.read().count() == 2
    # epoch 2: update one key, delete another, insert a third
    batch2 = spark.createDataFrame(
        [
            (7, "U", "r1", "a.py", "py", "v7"),
            (8, "D", "r2", "c.rs", "rs", ""),
            (9, "I", "r3", "d.go", "go", "d1"),
        ],
        FEED_SCHEMA,
    )
    resolved2 = resolve_latest(batch2, ["repo", "path"], "lsn")
    tbl.merge(resolved2.withColumn(DELETE_COL, F.col("op") == "D"), ["repo", "path"], epoch_id=2)
    state = {(r["repo"], r["path"]): r["content"] for r in tbl.read().collect()}
    assert state == {("r1", "a.py"): "v7", ("r3", "d.go"): "d1"}


def test_synth_feed_deterministic(spark):
    a = synth_change_feed(spark, 500, n_repos=10, seed=7).collect()
    b = synth_change_feed(spark, 500, n_repos=10, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    lsns = {r["lsn"] for r in a}
    assert len(lsns) == 500
    ops = {r["op"] for r in a}
    assert ops == {"I", "U", "D"}


def test_sha256_invariant(spark):
    # cross-engine invariant: Spark sha2 == python hashlib on same bytes
    import hashlib

    df = spark.createDataFrame([("hello world",)], "content string")
    got = df.select(content_sha256(F.col("content")).alias("h")).first()["h"]
    assert got == hashlib.sha256(b"hello world").hexdigest()


def test_partitioned_lake_merge(spark, tmp_path):
    from data_ingestion_resolution_platform_spark.sources.lake import PartitionedLakeTable

    tbl = PartitionedLakeTable(spark, str(tmp_path / "ptarget"), bucket_keys=["repo"], n_buckets=8)
    b1 = spark.createDataFrame(
        [(1, "I", "r1", "a.py", "py", "v1"), (2, "I", "r2", "b.py", "py", "v2")], FEED_SCHEMA
    )
    tbl.merge(b1.withColumn(DELETE_COL, F.col("op") == "D"), ["repo", "path"], epoch_id=1)
    assert {(r["repo"], r["content"]) for r in tbl.read().collect()} == {("r1", "v1"), ("r2", "v2")}
    # update one key, leave the other bucket untouched
    b2 = spark.createDataFrame([(3, "U", "r1", "a.py", "py", "v3")], FEED_SCHEMA)
    st = tbl.merge(b2.withColumn(DELETE_COL, F.col("op") == "D"), ["repo", "path"], epoch_id=2)
    assert st["touched_buckets"] == 1
    assert {(r["repo"], r["content"]) for r in tbl.read().collect()} == {("r1", "v3"), ("r2", "v2")}
    # replay of epoch 2 is a no-op
    assert tbl.merge(b2, ["repo", "path"], epoch_id=2)["skipped"] is True
    # delete ALL rows of r1's bucket: empty version committed, no resurrection
    b3 = spark.createDataFrame([(4, "D", "r1", "a.py", "py", "")], FEED_SCHEMA)
    tbl.merge(b3.withColumn(DELETE_COL, F.col("op") == "D"), ["repo", "path"], epoch_id=3)
    assert {(r["repo"], r["content"]) for r in tbl.read().collect()} == {("r2", "v2")}
    # delete for a key that never existed: clean no-op
    b4 = spark.createDataFrame([(5, "D", "zz", "q.py", "py", "")], FEED_SCHEMA)
    tbl.merge(b4.withColumn(DELETE_COL, F.col("op") == "D"), ["repo", "path"], epoch_id=4)
    assert tbl.read().count() == 1
