"""Streaming dedup-at-ingest: file-stream micro-batches drive the
incremental LSH index; stream result == batch replay, resume works."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.dedup_incremental import (
    build_minhash_index,
    incremental_minhash_epoch,
)
from data_ingestion_resolution_platform_spark.sources.lake import LakeTable
from data_ingestion_resolution_platform_spark.streaming.dedup_stream import DedupStream

MH = dict(k_shingle=3, num_hashes=16, num_bands=4)
BODY = "the quick brown fox jumps over the lazy dog again and again "
ALT = "pack my box with five dozen liquor jugs for the trip home now "

BATCH0 = [
    (1, BODY + "v one", "insert"),
    (2, BODY + "v two", "insert"),
    (3, ALT + "solo", "insert"),
]
BATCH1 = [
    (4, ALT + "solo!", "insert"),          # near-dup of 3
    (2, ALT + "rewritten", "update_postimage"),
    (1, BODY + "v one", "delete"),
]
BATCH2 = [
    (5, ALT + "solo!?", "insert"),         # near-dup of 3 and 4
]

SCHEMA = "doc_id long, text string, change_type string"


def _write_feed(spark, feed_dir, rows, name):
    # the file-stream source lists FLAT files under feed_dir — append
    # each micro-batch as one part file (name arg kept for readability)
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
        feed_dir
    )


def _table_set(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir, exist_ok=True)
    _write_feed(spark, feed_dir, BATCH0, "f0")
    time.sleep(1.1)  # distinct mtimes => deterministic batch order
    _write_feed(spark, feed_dir, BATCH1, "f1")

    ds = DedupStream(spark, feed_dir, str(tmp_path / "wh"), minhash=MH)
    ds.run_stream(available_now=True, max_files=1).awaitTermination(120)

    # twin: the same two micro-batches through the batch operator
    twin = LakeTable(spark, str(tmp_path / "twin_idx"))
    twin_pairs = []
    for epoch, rows in enumerate([BATCH0, BATCH1]):
        out = incremental_minhash_epoch(
            twin, spark.createDataFrame(rows, SCHEMA), "text", "doc_id",
            epoch_id=epoch, **MH,
        )
        twin_pairs += [
            (r.id_a, r.id_b, r.n_shared_bands, epoch) for r in out.collect()
        ]

    got_pairs = _table_set(ds.pairs.read(), ["id_a", "id_b", "n_shared_bands", "epoch"])
    assert got_pairs == sorted(twin_pairs)
    assert any(p[:2] == (3, 4) for p in got_pairs), "fixture should pair 3-4"
    a, b = ds.index.read(), twin.read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # deleted doc 1 must be out of the index
    assert 1 not in {r.doc for r in a.select("doc").collect()}

    # resume: a third file arrives; same checkpoint processes ONLY it
    time.sleep(1.1)
    _write_feed(spark, feed_dir, BATCH2, "f2")
    ds.run_stream(available_now=True, max_files=1).awaitTermination(120)
    epochs = {r.epoch for r in ds.pairs.read().select("epoch").collect()}
    assert epochs == {0, 1, 2}
    # final index == fresh build of the final doc state
    final_docs = [
        (2, ALT + "rewritten"),
        (3, ALT + "solo"),
        (4, ALT + "solo!"),
        (5, ALT + "solo!?"),
    ]
    fresh = LakeTable(spark, str(tmp_path / "fresh"))
    build_minhash_index(
        fresh, spark.createDataFrame(final_docs, "doc_id long, text string"),
        "text", "doc_id", **MH,
    )
    a, b = ds.index.read(), fresh.read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_batch_redelivery_is_noop(spark, tmp_path):
    ds = DedupStream(spark, str(tmp_path / "feed"), str(tmp_path / "wh"), minhash=MH)
    batch = spark.createDataFrame(BATCH0, SCHEMA)
    ds.process_batch(batch, 0)
    n_pairs = ds.pairs.read().count() if ds.pairs.exists() else 0
    v = ds.index.current_version()
    ds.process_batch(batch, 0)  # redelivered micro-batch
    assert ds.index.current_version() == v
    assert (ds.pairs.read().count() if ds.pairs.exists() else 0) == n_pairs


def test_pairs_stream_folds_small_files(spark, tmp_path):
    """The pairs log is an append stream with one dir per micro-batch;
    it runs the append layout's small-file policy, and a log that folds
    reads the same as one that never does."""
    folding = DedupStream(spark, str(tmp_path / "feed"), str(tmp_path / "fold"), minhash=MH)
    folding.pairs.compact_min_dirs = 2
    plain = DedupStream(spark, str(tmp_path / "feed"), str(tmp_path / "plain"), minhash=MH)
    plain.pairs.compact_small_file_bytes = None
    for epoch, rows in enumerate([BATCH0, BATCH1, BATCH2]):
        for ds in (folding, plain):
            ds.process_batch(spark.createDataFrame(rows, SCHEMA), epoch)
    assert folding.pairs.append_stats()["compacted_gen"] >= 1
    assert plain.pairs.append_stats()["compacted_gen"] == 0
    cols = ["id_a", "id_b", "n_shared_bands", "epoch"]
    assert _table_set(folding.pairs.read(), cols) == _table_set(plain.pairs.read(), cols)
