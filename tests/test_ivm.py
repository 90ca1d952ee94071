"""Incremental view maintenance: signed-delta aggregates from a
pre-image-bearing change feed (operators/ivm.py + snapshot_diff
include_preimages)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.ivm import (
    maintain_aggregate,
)
from data_ingestion_resolution_platform_spark.sources.lake import (
    LakeTable,
    snapshot_diff,
)

SCHEMA = "repo string, path string, lang string, content string"

V1 = [
    ("r1", "a.py", "py", "aaaa"),      # stays unchanged
    ("r1", "b.py", "py", "bb"),        # content update, same group
    ("r1", "c.md", "md", "cc"),        # lang update: moves md -> py
    ("r2", "d.go", "go", "dddd"),      # deleted -> group (r2, go) vanishes
]
V2 = [
    ("r1", "a.py", "py", "aaaa"),
    ("r1", "b.py", "py", "bbbbbb"),
    ("r1", "c.md", "py", "cc"),
    ("r2", "e.rs", "rs", "eee"),       # insert -> new group (r2, rs)
]


def _snapshots(spark):
    return spark.createDataFrame(V1, SCHEMA), spark.createDataFrame(V2, SCHEMA)


def _direct_agg(df):
    return df.groupBy("repo", "lang").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.length("content")).cast("long").alias("total_bytes"),
    )


def _as_dict(df):
    return {
        (r.repo, r.lang): (r.n_rows, r.total_bytes) for r in df.collect()
    }


def test_preimage_changelog_shape(spark):
    before, after = _snapshots(spark)
    rows = snapshot_diff(
        before, after, ["repo", "path"], include_preimages=True
    ).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.change_type, []).append((r.repo, r.path))
    # updates fan out to a preimage + postimage pair on the same key
    assert sorted(by_type["update_preimage"]) == sorted(by_type["update_postimage"])
    assert set(by_type["update_preimage"]) == {("r1", "b.py"), ("r1", "c.md")}
    assert by_type["insert"] == [("r2", "e.rs")]
    assert by_type["delete"] == [("r2", "d.go")]
    # unchanged key emits nothing
    assert ("r1", "a.py") not in {k for v in by_type.values() for k in v}
    # preimage carries the BEFORE values, postimage the AFTER values
    pre = {(r.repo, r.path): r.lang for r in rows if r.change_type == "update_preimage"}
    post = {(r.repo, r.path): r.lang for r in rows if r.change_type == "update_postimage"}
    assert pre[("r1", "c.md")] == "md" and post[("r1", "c.md")] == "py"


def test_maintain_aggregate_lake_roundtrip(spark, tmp_path):
    before, after = _snapshots(spark)
    # an epoch that bootstraps an empty table: the changes are all
    # inserts (diff vs empty)
    boot = LakeTable(spark, str(tmp_path / "boot"))
    maintain_aggregate(
        boot,
        snapshot_diff(before.limit(0), after, ["repo", "path"], include_preimages=True),
        ["repo", "lang"],
        {"total_bytes": "length(content)"},
        epoch_id="e1",
    )
    assert _as_dict(boot.read()) == _as_dict(_direct_agg(after))
    t = LakeTable(spark, str(tmp_path / "agg"))
    t.merge(_direct_agg(before), ["repo", "lang"], epoch_id="seed")
    changes = snapshot_diff(before, after, ["repo", "path"], include_preimages=True)
    maintain_aggregate(
        t,
        changes,
        ["repo", "lang"],
        {"total_bytes": "length(content)"},
        epoch_id="e2",
    )
    assert _as_dict(t.read()) == _as_dict(_direct_agg(after))
    # the vanished group (r2, go) is deleted, not kept at 0
    assert ("r2", "go") not in _as_dict(t.read())
    # exactly-once: re-delivering the same epoch must not double-apply
    out = maintain_aggregate(
        t,
        changes,
        ["repo", "lang"],
        {"total_bytes": "length(content)"},
        epoch_id="e2",
    )
    assert out.get("skipped") is True
    assert _as_dict(t.read()) == _as_dict(_direct_agg(after))


def test_maintained_agg_tracks_many_epochs(spark, tmp_path):
    """Property-style: random-ish multi-epoch churn, maintained state
    equals recompute after EVERY epoch."""
    import random

    rnd = random.Random(7)
    langs = ["py", "md", "go"]
    state = {
        (f"r{i % 3}", f"f{i}.x"): (langs[i % 3], "x" * (i % 7 + 1)) for i in range(40)
    }

    def df_of(snap):
        rows = [(k[0], k[1], v[0], v[1]) for k, v in sorted(snap.items())]
        return spark.createDataFrame(rows, SCHEMA)

    t = LakeTable(spark, str(tmp_path / "agg2"))
    t.merge(_direct_agg(df_of(state)), ["repo", "lang"], epoch_id="seed")
    for epoch in range(3):
        nxt = dict(state)
        for k in list(nxt):
            roll = rnd.random()
            if roll < 0.2:
                del nxt[k]
            elif roll < 0.5:
                lang, content = nxt[k]
                nxt[k] = (rnd.choice(langs), content + "!")
        for i in range(5):
            nxt[(f"r{rnd.randrange(3)}", f"new{epoch}_{i}.x")] = (
                rnd.choice(langs),
                "y" * rnd.randrange(1, 9),
            )
        changes = snapshot_diff(
            df_of(state), df_of(nxt), ["repo", "path"], include_preimages=True
        )
        maintain_aggregate(
            t,
            changes,
            ["repo", "lang"],
            {"total_bytes": "length(content)"},
            epoch_id=f"e{epoch}",
        )
        assert _as_dict(t.read()) == _as_dict(_direct_agg(df_of(nxt))), f"epoch {epoch}"
        state = nxt


def test_pipeline_maintained_stats_tracks_target(spark, tmp_path):
    """CDCPipeline(maintain_stats=True): the per-repo metrics table
    stays equal to a direct aggregate of the target after every epoch,
    and redelivery of committed epochs changes nothing."""
    from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
    from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

    feed = synth_change_feed(spark, n_events=4000, n_repos=12, seed=3, partitions=8)
    pipe = CDCPipeline(
        spark, feed_dir="unused", warehouse=str(tmp_path / "wh"), maintain_stats=True
    )

    def recompute():
        return _as_dict(
            pipe.target.read()
            .groupBy("repo")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.length("content")).cast("long").alias("total_bytes"),
            )
            .withColumnRenamed("repo", "lang")  # reuse _as_dict's (repo, lang) key
            .withColumn("repo", F.col("lang"))
        )

    def stats_dict():
        return _as_dict(
            pipe.stats.read()
            .select(
                "repo",
                F.col("repo").alias("lang"),
                F.col("n_paths").alias("n_rows"),
                "total_bytes",
            )
        )

    pipe.replay_bounded(feed, epochs=3)
    assert stats_dict() == recompute()
    # redelivery: both target and stats epochs are ledgered no-ops
    out = pipe.replay_bounded(feed, epochs=3)
    assert all(o.get("skipped") for o in out)
    assert stats_dict() == recompute()


# ---------------------------------------------------------------------------
# Join-view maintenance (delta_join / maintain_join)
# ---------------------------------------------------------------------------

DIM_SCHEMA = "repo string, owner string, tier long"

DIM_V1 = [
    ("r1", "alice", 0),
    ("r2", "bob", 1),
    ("r3", "carol", 2),   # no files join r3 in V1 (exercises dangling dim)
]
DIM_V2 = [
    ("r1", "alice", 0),   # unchanged
    ("r2", "bob2", 1),    # owner update -> cascades to every r2 file
    ("r4", "dave", 0),    # insert (no files)
]                          # r3 deleted


def _dims(spark):
    return (
        spark.createDataFrame(DIM_V1, DIM_SCHEMA),
        spark.createDataFrame(DIM_V2, DIM_SCHEMA),
    )


def _direct_join(files, dim):
    return files.select("repo", "path", "lang").join(dim, on="repo", how="inner")


def _join_dict(df):
    return {(r.repo, r.path): (r.lang, r.owner, r.tier) for r in df.collect()}


def _join_changes(spark, before, after, keys):
    return snapshot_diff(before, after, keys, include_preimages=True)


def test_maintain_join_equals_recompute(spark, tmp_path):
    """Both sides change in the same epoch; maintained view equals the
    recomputed join, including the ΔR ⋈ ΔS correction term."""
    from data_ingestion_resolution_platform_spark.operators.ivm import maintain_join

    r1, r2 = _snapshots(spark)
    r1, r2 = r1.drop("content"), r2.drop("content")
    s1, s2 = _dims(spark)
    view = LakeTable(spark, str(tmp_path / "view"))
    view.merge(_direct_join(r1, s1), ["repo", "path"], epoch_id="seed")
    maintain_join(
        view,
        _join_changes(spark, r1, r2, ["repo", "path"]),
        _join_changes(spark, s1, s2, ["repo"]),
        r_before=r1,
        s_before=s1,
        join_keys=["repo"],
        out_keys=["repo", "path"],
        epoch_id="e2",
    )
    assert _join_dict(view.read()) == _join_dict(_direct_join(r2, s2))
    # dim delete cascaded: r2/d.go row was ALSO deleted on the R side;
    # r2's surviving file must carry the updated owner
    got = _join_dict(view.read())
    assert got[("r2", "e.rs")] == ("rs", "bob2", 1)
    # exactly-once: redelivery is a ledger no-op
    out = maintain_join(
        view,
        _join_changes(spark, r1, r2, ["repo", "path"]),
        _join_changes(spark, s1, s2, ["repo"]),
        r_before=r1,
        s_before=s1,
        join_keys=["repo"],
        out_keys=["repo", "path"],
        epoch_id="e2",
    )
    assert out.get("skipped") is True
    assert _join_dict(view.read()) == _join_dict(_direct_join(r2, s2))


def test_maintain_join_one_sided_epochs(spark, tmp_path):
    """R-only epoch then S-only epoch (the common CDC case): each
    empty-Δ side contributes nothing but the other side's terms."""
    from data_ingestion_resolution_platform_spark.operators.ivm import maintain_join

    r1, r2 = _snapshots(spark)
    r1, r2 = r1.drop("content"), r2.drop("content")
    s1, s2 = _dims(spark)
    view = LakeTable(spark, str(tmp_path / "view1s"))
    view.merge(_direct_join(r1, s1), ["repo", "path"], epoch_id="seed")
    # epoch A: only R changes
    maintain_join(
        view,
        _join_changes(spark, r1, r2, ["repo", "path"]),
        _join_changes(spark, s1, s1, ["repo"]),
        r_before=r1, s_before=s1,
        join_keys=["repo"], out_keys=["repo", "path"], epoch_id="eA",
    )
    assert _join_dict(view.read()) == _join_dict(_direct_join(r2, s1))
    # epoch B: only S changes (pre-state is now r2/s1)
    maintain_join(
        view,
        _join_changes(spark, r2, r2, ["repo", "path"]),
        _join_changes(spark, s1, s2, ["repo"]),
        r_before=r2, s_before=s1,
        join_keys=["repo"], out_keys=["repo", "path"], epoch_id="eB",
    )
    assert _join_dict(view.read()) == _join_dict(_direct_join(r2, s2))


def test_maintain_join_multi_epoch_churn(spark, tmp_path):
    """Property-style: random churn on BOTH tables for several epochs;
    maintained view equals full recompute after every epoch."""
    import random

    from data_ingestion_resolution_platform_spark.operators.ivm import maintain_join

    rnd = random.Random(11)
    langs = ["py", "md", "go"]
    files = {(f"r{i % 4}", f"f{i}.x"): langs[i % 3] for i in range(30)}
    dims = {f"r{i}": (f"own{i}", i % 3) for i in range(4)}

    def files_df(snap):
        return spark.createDataFrame(
            [(k[0], k[1], v) for k, v in sorted(snap.items())],
            "repo string, path string, lang string",
        )

    def dims_df(snap):
        return spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in sorted(snap.items())], DIM_SCHEMA
        )

    view = LakeTable(spark, str(tmp_path / "viewp"))
    view.merge(_direct_join(files_df(files), dims_df(dims)), ["repo", "path"], epoch_id="seed")
    for epoch in range(3):
        nf, nd = dict(files), dict(dims)
        for k in list(nf):
            roll = rnd.random()
            if roll < 0.15:
                del nf[k]
            elif roll < 0.45:
                nf[k] = rnd.choice(langs)
        for i in range(4):
            nf[(f"r{rnd.randrange(6)}", f"new{epoch}_{i}.x")] = rnd.choice(langs)
        for k in list(nd):
            roll = rnd.random()
            if roll < 0.2:
                del nd[k]
            elif roll < 0.5:
                nd[k] = (nd[k][0] + "!", nd[k][1])
        nd[f"r{rnd.randrange(6)}"] = (f"fresh{epoch}", epoch % 3)
        maintain_join(
            view,
            _join_changes(spark, files_df(files), files_df(nf), ["repo", "path"]),
            _join_changes(spark, dims_df(dims), dims_df(nd), ["repo"]),
            r_before=files_df(files), s_before=dims_df(dims),
            join_keys=["repo"], out_keys=["repo", "path"], epoch_id=f"e{epoch}",
        )
        assert _join_dict(view.read()) == _join_dict(
            _direct_join(files_df(nf), dims_df(nd))
        ), f"epoch {epoch}"
        files, dims = nf, nd


def test_delta_join_rejects_mismatched_columns(spark):
    from data_ingestion_resolution_platform_spark.operators.ivm import delta_join
    import pytest

    r1, r2 = _snapshots(spark)
    s1, s2 = _dims(spark)
    ch_r = _join_changes(spark, r1, r2, ["repo", "path"])
    ch_s = _join_changes(spark, s1, s2, ["repo"])
    with pytest.raises(ValueError, match="r_changes columns"):
        delta_join(ch_r, ch_s, r1.drop("content"), s1, ["repo"])
    # overlapping non-join column on both sides
    with pytest.raises(ValueError, match="shared by both sides"):
        delta_join(
            ch_r.withColumnRenamed("lang", "owner"),
            ch_s,
            r1.withColumnRenamed("lang", "owner"),
            s1,
            ["repo"],
        )


def _direct_left_join(files, dim):
    return files.select("repo", "path", "lang").join(dim, on="repo", how="left")


def test_maintain_left_join_equals_recompute(spark, tmp_path):
    """LEFT OUTER view: unmatched files carry NULL dim attrs; dim
    inserts/deletes flip rows between matched and null-extended."""
    from data_ingestion_resolution_platform_spark.operators.ivm import maintain_join

    r1, r2 = _snapshots(spark)
    r1, r2 = r1.drop("content"), r2.drop("content")
    s1, s2 = _dims(spark)
    view = LakeTable(spark, str(tmp_path / "lview"))
    view.merge(_direct_left_join(r1, s1), ["repo", "path"], epoch_id="seed")
    maintain_join(
        view,
        _join_changes(spark, r1, r2, ["repo", "path"]),
        _join_changes(spark, s1, s2, ["repo"]),
        r_before=r1, s_before=s1,
        join_keys=["repo"], out_keys=["repo", "path"],
        epoch_id="e2", how="left",
    )
    assert _join_dict(view.read()) == _join_dict(_direct_left_join(r2, s2))
    # follow-up dim-only epoch deletes r2: its file e.rs must flip to a
    # null-extended row in place (vs vanishing under how="inner")
    s3 = s2.filter(F.col("repo") != "r2")
    maintain_join(
        view,
        _join_changes(spark, r2, r2, ["repo", "path"]),
        _join_changes(spark, s2, s3, ["repo"]),
        r_before=r2, s_before=s2,
        join_keys=["repo"], out_keys=["repo", "path"],
        epoch_id="e3", how="left",
    )
    assert _join_dict(view.read()) == _join_dict(_direct_left_join(r2, s3))
    assert _join_dict(view.read())[("r2", "e.rs")] == ("rs", None, None)


def test_maintain_left_join_multi_epoch_churn(spark, tmp_path):
    """Property-style churn on both tables, LEFT OUTER semantics; the
    maintained view equals a full left-join recompute every epoch —
    including matched→unmatched→matched flips of the same key."""
    import random

    from data_ingestion_resolution_platform_spark.operators.ivm import maintain_join

    rnd = random.Random(23)
    langs = ["py", "md", "go"]
    files = {(f"r{i % 5}", f"f{i}.x"): langs[i % 3] for i in range(25)}
    dims = {f"r{i}": (f"own{i}", i % 3) for i in range(3)}  # r3, r4 unmatched

    def files_df(snap):
        return spark.createDataFrame(
            [(k[0], k[1], v) for k, v in sorted(snap.items())],
            "repo string, path string, lang string",
        )

    def dims_df(snap):
        return spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in sorted(snap.items())], DIM_SCHEMA
        )

    view = LakeTable(spark, str(tmp_path / "lviewp"))
    view.merge(
        _direct_left_join(files_df(files), dims_df(dims)), ["repo", "path"], epoch_id="seed"
    )
    for epoch in range(3):
        nf, nd = dict(files), dict(dims)
        for k in list(nf):
            roll = rnd.random()
            if roll < 0.15:
                del nf[k]
            elif roll < 0.45:
                nf[k] = rnd.choice(langs)
        for i in range(4):
            nf[(f"r{rnd.randrange(7)}", f"new{epoch}_{i}.x")] = rnd.choice(langs)
        for k in list(nd):
            roll = rnd.random()
            if roll < 0.25:
                del nd[k]  # matched -> null-extended flip
            elif roll < 0.55:
                nd[k] = (nd[k][0] + "!", nd[k][1])
        nd[f"r{rnd.randrange(7)}"] = (f"fresh{epoch}", epoch % 3)  # flip back
        maintain_join(
            view,
            _join_changes(spark, files_df(files), files_df(nf), ["repo", "path"]),
            _join_changes(spark, dims_df(dims), dims_df(nd), ["repo"]),
            r_before=files_df(files), s_before=dims_df(dims),
            join_keys=["repo"], out_keys=["repo", "path"],
            epoch_id=f"e{epoch}", how="left",
        )
        assert _join_dict(view.read()) == _join_dict(
            _direct_left_join(files_df(nf), dims_df(nd))
        ), f"epoch {epoch}"
        files, dims = nf, nd


def test_delta_join_rejects_bad_how(spark):
    from data_ingestion_resolution_platform_spark.operators.ivm import delta_join
    import pytest

    r1, r2 = _snapshots(spark)
    s1, s2 = _dims(spark)
    with pytest.raises(ValueError, match="how must be"):
        delta_join(
            _join_changes(spark, r1, r2, ["repo", "path"]),
            _join_changes(spark, s1, s2, ["repo"]),
            r1, s1, ["repo"], how="full",
        )


def test_join_views_compose(spark, tmp_path):
    """Maintained views COMPOSE: a maintained join view's own versioned
    changelog (one pre/post pair per key per epoch — the maintain_join
    contract) drives a SECOND maintained view downstream, Materialize-
    style cascade. files ⋈ repos → (that view) ⋈ owners."""
    from data_ingestion_resolution_platform_spark.operators.ivm import maintain_join

    r1, r2 = _snapshots(spark)
    r1, r2 = r1.drop("content"), r2.drop("content")
    s1, s2 = _dims(spark)
    owners = spark.createDataFrame(
        [("alice", "us"), ("bob", "eu"), ("bob2", "ap"), ("carol", "us"), ("dave", "eu")],
        "owner string, region string",
    )
    v1 = LakeTable(spark, str(tmp_path / "v1"))
    seed1 = _direct_join(r1, s1)
    v1.merge(seed1, ["repo", "path"], epoch_id="seed")
    v2 = LakeTable(spark, str(tmp_path / "v2"))
    v2.merge(seed1.join(owners, on="owner", how="inner"), ["repo", "path"], epoch_id="seed")
    # advance v1 by one epoch (both base tables change)
    maintain_join(
        v1,
        _join_changes(spark, r1, r2, ["repo", "path"]),
        _join_changes(spark, s1, s2, ["repo"]),
        r_before=r1, s_before=s1,
        join_keys=["repo"], out_keys=["repo", "path"], epoch_id="e2",
    )
    # v1's own changelog (snapshot diff of its two retained versions)
    # is itself an invertible feed — drive v2 from it with a static dim
    v1_changes = v1.changelog(1, 2, ["repo", "path"], include_preimages=True)
    v1_before = v1.read(version=1)
    maintain_join(
        v2,
        v1_changes,
        _join_changes(spark, owners, owners, ["owner"]),  # empty ΔS
        r_before=v1_before, s_before=owners,
        join_keys=["owner"], out_keys=["repo", "path"], epoch_id="e2",
    )
    want = _direct_join(r2, s2).join(owners, on="owner", how="inner")
    got = v2.read().select(*want.columns)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
