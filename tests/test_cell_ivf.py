"""The cell-pruned IVF layout: ``maintain_ivf_index`` advancing an
index held in a ``PartitionedLakeTable`` bucketed on ``cell``.

The maintained index must equal an index rebuilt from scratch on the
post-state, rewrite only the buckets holding the epoch's cells, leave
no row in a cell the epoch empties, let a probe scan skip the other
cells' files, and redeliver idempotently.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.similarity import (
    IVF_KEYS,
    ivf_index,
    maintain_ivf_index,
)
from data_ingestion_resolution_platform_spark.sources.lake import (
    PartitionedLakeTable,
    snapshot_diff,
)

VEC_SCHEMA = "vec_id long, embedding array<float>"
# 8 cells in 8 buckets: id 6's cell shares no bucket with a cell the
# epoch touches
N_CELLS = 8


def _vecs(spark):
    v1 = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 1.0, 0.0]),   # deleted in v2
            (3, [0.5, 0.5, 0.0, 0.0]),   # updated: vector moves cells
            (5, [0.9, 0.1, 0.0, 0.0]),
            (6, [0.0, 0.0, 0.0, -1.0]),  # untouched by the epoch
        ],
        VEC_SCHEMA,
    )
    v2 = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.5, 0.5]),
            (4, [0.0, 0.0, 0.0, 1.0]),   # inserted
            (5, [0.9, 0.1, 0.0, 0.0]),
            (6, [0.0, 0.0, 0.0, -1.0]),
        ],
        VEC_SCHEMA,
    )
    return v1, v2


def _index(df):
    return ivf_index(df, "embedding", "vec_id", n_cells=N_CELLS, portable=True)


def _seeded(spark, tmp_path, v1):
    idx = PartitionedLakeTable(
        spark, str(tmp_path / "ivf"), bucket_keys=["cell"], n_buckets=N_CELLS
    )
    idx.merge(_index(v1), IVF_KEYS, epoch_id="b1")
    return idx


def _maintain(idx, changes, epoch_id):
    return maintain_ivf_index(
        idx, changes, "embedding", "vec_id", n_cells=N_CELLS, portable=True,
        epoch_id=epoch_id,
    )


def _index_rows(df):
    return sorted((r.neighbor_id, tuple(r.cq), r.cell) for r in df.collect())


def _buckets(idx):
    """{bucket: (version, {file: mtime}, {cell})} for every live bucket."""
    out = {}
    for bk, v in idx._read_dir().items():
        if v > 0:
            d = idx._bucket_dir(*bk, v)
            files = {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}
            cells = {r.cell for r in idx.read([bk]).select("cell").distinct().collect()}
            out[bk] = (v, files, cells)
    return out


def test_maintain_equals_rebuild_and_prunes(spark, tmp_path):
    v1, v2 = _vecs(spark)
    idx = _seeded(spark, tmp_path, v1)
    before = _buckets(idx)
    changes = snapshot_diff(v1, v2, ["vec_id"], include_preimages=True)
    # the epoch's cells: the old cells of its retractions, the new
    # cells of its post-images
    touched = {
        r.cell
        for r in _index(changes.select("vec_id", "embedding")).select("cell").collect()
    }
    out = _maintain(idx, changes, "e2")
    assert _index_rows(idx.read()) == _index_rows(_index(v2))
    # buckets holding none of the epoch's cells keep their version and
    # their exact files
    after = _buckets(idx)
    untouched = [
        bk
        for bk in before
        if not (before[bk][2] | after.get(bk, (0, {}, set()))[2]) & touched
    ]
    assert untouched, "fixture must leave a bucket the epoch does not touch"
    for bk in untouched:
        assert after.get(bk) == before[bk], f"untouched bucket {bk} was rewritten"
    assert out["touched_buckets"] < len(idx._read_dir())
    # a probe scans only the files whose cell range can hold its cells
    probe = sorted({r.cell for r in _index(v2).collect()})[:1]
    got = idx.scan([("cell", "in", probe)])
    assert _index_rows(got) == _index_rows(_index(v2).filter(F.col("cell").isin(probe)))
    report = idx.last_scan_report
    assert report["files_kept"] < report["files_total"], report
    # redelivery is a no-op
    assert _maintain(idx, changes, "e2") == {"skipped": True, "epoch": "e2"}


def test_emptied_cell_partition_is_dropped(spark, tmp_path):
    # one lone vector in its own cell; deleting it must leave no row of
    # that cell behind
    v1, _ = _vecs(spark)
    idx = _seeded(spark, tmp_path, v1)
    cell_of = {r.neighbor_id: r.cell for r in _index(v1).collect()}
    counts = {}
    for c in cell_of.values():
        counts[c] = counts.get(c, 0) + 1
    lone = [i for i, c in cell_of.items() if counts[c] == 1]
    assert lone, "fixture must contain a single-occupant cell"
    victim = lone[0]
    v2 = v1.filter(F.col("vec_id") != victim)
    _maintain(idx, snapshot_diff(v1, v2, ["vec_id"], include_preimages=True), "e2")
    assert idx.scan([("cell", "==", cell_of[victim])]).count() == 0
    assert _index_rows(idx.read()) == _index_rows(_index(v2))


def test_rewrite_is_idempotent_from_partial_state(spark, tmp_path):
    # simulate a crash AFTER the data commit but BEFORE the ledger
    # record: redelivering the same epoch must converge, not double-apply
    v1, v2 = _vecs(spark)
    idx = _seeded(spark, tmp_path, v1)
    changes = snapshot_diff(v1, v2, ["vec_id"], include_preimages=True)
    _maintain(idx, changes, None)  # no ledger mark
    _maintain(idx, changes, "e2")  # full redelivery
    assert _index_rows(idx.read()) == _index_rows(_index(v2))
    assert idx.epoch_committed("e2")
