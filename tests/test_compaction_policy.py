"""Measured auto-compaction policies (r4 verdict #7): MoR delta/base
byte-ratio trigger, append-only small-file folding, and the armed
Scd2HistoryStore closed side — correctness (reads identical across a
fold), crash-protocol visibility, and exactly-once interplay."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.sources.lake import LakeTable, MorLakeTable


def _rows(spark, lo, n, val="x"):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("k"),
        F.col("id").alias("lsn"),
        F.concat(F.lit(val), F.col("id").cast("string")).alias("v"),
    )


def _state(df):
    return {r.k: (r.lsn, r.v) for r in df.select("k", "lsn", "v").collect()}


# -- MoR ratio policy -------------------------------------------------------


def test_mor_ratio_policy_triggers_on_heavy_deltas(spark, tmp_path):
    t = MorLakeTable(
        spark, str(tmp_path / "m"), keys=["k"], lsn_col="lsn", compact_ratio=0.5
    )
    # bootstrap: base_v==0 and >= min_compact_deltas live deltas → the
    # ratio trigger fires (infinite ratio) and materializes a base
    s0 = t.merge(_rows(spark, 0, 2000), ["k"], epoch_id=0)
    assert "compacted" not in s0  # single delta, under min_compact_deltas
    s1 = t.merge(_rows(spark, 2000, 2000), ["k"], epoch_id=1)
    assert s1.get("compact_trigger") == "ratio"
    assert t.n_deltas() == 0
    stats = t.scan_stats()
    assert stats["base_bytes"] > 0 and stats["delta_ratio"] == 0.0

    # a tiny delta against the 4k-row base stays below ratio 0.5
    s2 = t.merge(_rows(spark, 0, 50, val="y"), ["k"], epoch_id=2)
    s3 = t.merge(_rows(spark, 50, 50, val="y"), ["k"], epoch_id=3)
    assert "compacted" not in s2 and "compacted" not in s3
    assert t.n_deltas() == 2
    # heavy delta pushes cumulative delta bytes past half the base
    s4 = t.merge(_rows(spark, 0, 3000, val="z"), ["k"], epoch_id=4)
    assert s4.get("compact_trigger") == "ratio"
    assert t.n_deltas() == 0
    # content is exactly the LWW state regardless of when folds happened
    st = _state(t.read())
    assert st[10] == (10, "z10") and st[70] == (70, "z70") and st[3500] == (3500, "x3500")
    assert len(st) == 4000


def test_mor_scan_stats_track_manifest(spark, tmp_path):
    t = MorLakeTable(spark, str(tmp_path / "m"), keys=["k"], lsn_col="lsn")
    t.merge(_rows(spark, 0, 1000), ["k"], epoch_id=0)
    s = t.scan_stats()
    assert s["n_deltas"] == 1 and s["delta_bytes"] > 0 and s["base_bytes"] == 0
    assert s["read_amplification"] == float("inf")
    t.compact()
    s2 = t.scan_stats()
    assert s2["n_deltas"] == 0 and s2["base_bytes"] > 0
    assert s2["read_amplification"] == 1.0
    t.merge(_rows(spark, 0, 500, val="y"), ["k"], epoch_id=1)
    s3 = t.scan_stats()
    assert s3["scan_bytes"] == s3["base_bytes"] + s3["delta_bytes"]
    assert 0 < s3["delta_ratio"] < 1.5
    assert s3["read_amplification"] > 1.0


def test_mor_ratio_policy_replay_safe(spark, tmp_path):
    t = MorLakeTable(
        spark, str(tmp_path / "m"), keys=["k"], lsn_col="lsn", compact_ratio=0.1
    )
    t.merge(_rows(spark, 0, 1000), ["k"], epoch_id="e0")
    t.merge(_rows(spark, 0, 800, val="y"), ["k"], epoch_id="e1")  # folds
    before = _state(t.read())
    # redelivery of a folded epoch is ledger-skipped — no new delta
    out = t.merge(_rows(spark, 0, 800, val="y"), ["k"], epoch_id="e1")
    assert out.get("skipped")
    assert t.n_deltas() == 0
    assert _state(t.read()) == before


# -- append-only small-file compaction --------------------------------------


def test_append_compaction_read_identical(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "a"), append_only=True)
    for e in range(6):
        t.append(_rows(spark, e * 100, 100), epoch_id=f"ep{e}")
    before = t.read()
    cols = sorted(before.columns)
    assert "e" in cols  # epoch dirname surfaced as a column
    rows_before = sorted(tuple(r) for r in before.select(*cols).collect())
    st = t.append_stats()
    out = t.compact_appends()
    assert out["gen"] == 1 and out["folded_dirs"] == 6
    assert out["files_after"] < st["n_files"]
    after = t.read()
    assert sorted(after.columns) == cols
    rows_after = sorted(tuple(r) for r in after.select(*cols).collect())
    assert rows_after == rows_before
    # appends after a fold union with the compacted generation
    t.append(_rows(spark, 600, 50), epoch_id="ep6")
    assert t.read().count() == 650
    # second fold covers generation + new dirs
    out2 = t.compact_appends()
    assert out2["gen"] == 2 and t.read().count() == 650
    # ledger untouched by folding: redelivery still skips
    t.append(_rows(spark, 0, 100), epoch_id="ep0")
    assert t.read().count() == 650


def test_append_compaction_crash_before_manifest_is_invisible(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "a"), append_only=True)
    for e in range(3):
        t.append(_rows(spark, e * 10, 10), epoch_id=e)
    # simulate a crash AFTER the generation dir landed but BEFORE the
    # manifest flip: readers must still see the un-folded layout
    snap = t.read()
    os.makedirs(os.path.dirname(t._compact_gen_dir(1)), exist_ok=True)
    snap.coalesce(1).write.parquet(t._compact_gen_dir(1))
    assert t.read().count() == 30  # orphan generation invisible
    # the real compaction replays over the orphan and converges
    out = t.compact_appends()
    assert out["gen"] == 1
    assert t.read().count() == 30


def test_append_auto_policy_folds_small_files(spark, tmp_path):
    t = LakeTable(
        spark,
        str(tmp_path / "a"),
        append_only=True,
        compact_small_file_bytes=1 << 20,  # everything here is tiny
        compact_min_dirs=4,
    )
    for e in range(3):
        t.append(_rows(spark, e * 10, 10), epoch_id=e)
    assert t.append_stats()["n_epoch_dirs"] == 3  # below min_dirs
    t.append(_rows(spark, 30, 10), epoch_id=3)
    s = t.append_stats()
    assert s["n_epoch_dirs"] == 0 and s["compacted_gen"] == 1
    assert t.read().count() == 40
    m = json.load(open(t._appends_manifest_path))
    assert len(m["folded"]) == 4


def test_append_compaction_scan_prunes_after_fold(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "a"), append_only=True)
    for e in range(4):
        t.append(_rows(spark, e * 1000, 1000), epoch_id=e)
    t.compact_appends(target_files=4)
    scanned = t.scan([("k", ">=", 3500)])
    got = sorted(r.k for r in scanned.collect())
    assert got == list(range(3500, 4000))
    assert "e" not in scanned.columns  # scan stays data-columns-only
    assert t.last_scan_report["files_kept"] <= t.last_scan_report["files_total"]


# -- Scd2HistoryStore armed closed side --------------------------------------


def test_scd2_store_closed_autocompact_matches_unarmed(spark, tmp_path):
    from data_ingestion_resolution_platform_spark.operators.scd import (
        Scd2HistoryStore,
        historize_epoch,
    )

    def feed(e):
        # every epoch updates the same 40 keys → each epoch closes versions
        return spark.range(40).select(
            F.col("id").alias("k"),
            (F.lit(e * 1000) + F.col("id")).alias("lsn"),
            F.lit("U").alias("op"),
            F.concat(F.lit(f"v{e}_"), F.col("id").cast("string")).alias("attr"),
        )

    armed = Scd2HistoryStore(spark, str(tmp_path / "armed"), keys=["k"])
    armed._closed.compact_small_file_bytes, armed._closed.compact_min_dirs = 1 << 20, 3
    plain = Scd2HistoryStore(spark, str(tmp_path / "plain"), keys=["k"])
    plain._closed.compact_small_file_bytes = None
    for e in range(6):
        for h in (armed, plain):
            historize_epoch(h, feed(e), ["k"], "lsn", ["attr"], epoch_id=e)
    sa = armed._closed.append_stats()
    sp = plain._closed.append_stats()
    assert sa["compacted_gen"] >= 1 and sa["n_files"] < sp["n_files"]
    cols = sorted(plain.read().columns)
    rows_a = sorted(tuple(r) for r in armed.read().select(*cols).collect())
    rows_p = sorted(tuple(r) for r in plain.read().select(*cols).collect())
    assert rows_a == rows_p


def test_pipeline_audit_folds_keep_status_exact(spark, tmp_path):
    """Armed audit tables fold mid-run without changing what the
    status/lineage queries see."""
    from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
    from data_ingestion_resolution_platform_spark.streaming.lineage import status_history
    from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

    feed = synth_change_feed(spark, 3000, n_repos=12, seed=21)
    folding = CDCPipeline(spark, feed_dir="unused", warehouse=str(tmp_path / "fold"))
    plain = CDCPipeline(spark, feed_dir="unused", warehouse=str(tmp_path / "plain"))
    for audit in (folding.conflicts, folding.lineage):
        audit.compact_small_file_bytes, audit.compact_min_dirs = 1 << 20, 2
    for audit in (plain.conflicts, plain.lineage):
        audit.compact_small_file_bytes = None
    for p in (folding, plain):
        p.replay_bounded(feed, epochs=4)
    assert folding.lineage.append_stats()["compacted_gen"] >= 1
    assert plain.lineage.append_stats()["compacted_gen"] == 0

    def snap(p):
        return sorted(
            tuple(r) for r in status_history(p.lineage.read()).collect()
        )

    assert snap(folding) == snap(plain)
    cols = sorted(c for c in plain.conflicts.read().columns if c != "e")
    rows_f = sorted(tuple(r) for r in folding.conflicts.read().select(*cols).collect())
    rows_p = sorted(tuple(r) for r in plain.conflicts.read().select(*cols).collect())
    assert rows_f == rows_p


def test_pipeline_history_closed_side_folds(spark, tmp_path):
    """The pipeline's SCD2 history's closed-version stream runs the
    same small-file policy as the audit streams; a history that folds
    reads the same as one that never does."""
    from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed
    from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

    feed = synth_change_feed(spark, 3000, n_repos=12, seed=21)
    plain = CDCPipeline(
        spark, feed_dir="unused", warehouse=str(tmp_path / "plain"), maintain_history=True
    )
    plain.history._closed.compact_small_file_bytes = None
    folding = CDCPipeline(
        spark, feed_dir="unused", warehouse=str(tmp_path / "fold"), maintain_history=True
    )
    closed = folding.history._closed
    closed.compact_small_file_bytes, closed.compact_min_dirs = 1 << 20, 2
    for p in (folding, plain):
        p.replay_bounded(feed, epochs=4)
    assert folding.history._closed.append_stats()["compacted_gen"] >= 1
    assert plain.history._closed.append_stats()["compacted_gen"] == 0
    cols = sorted(plain.history.read().columns)
    rows_f = sorted(tuple(r) for r in folding.history.read().select(*cols).collect())
    rows_p = sorted(tuple(r) for r in plain.history.read().select(*cols).collect())
    assert rows_f == rows_p
