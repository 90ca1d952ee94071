"""Incrementally-maintained dup clusters (`operators/graph_incremental`).

Invariant under test: after any sequence of epochs (inserts, updates
that add/drop edges, deletes that split components), the maintained
labels table equals a from-scratch `connected_components` run over the
surviving pair list — including singleton rows for isolated docs.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.graph import (
    connected_components,
)
from data_ingestion_resolution_platform_spark.operators.graph_incremental import (
    build_cluster_state,
    maintain_clusters,
)
from data_ingestion_resolution_platform_spark.sources.lake import LakeTable


def _pairs(spark, rows):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in rows] or [], "id_a long, id_b long"
    )


def _ids(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids] or [], "doc_id long")


def _expected(spark, live_ids, live_pairs):
    cc = connected_components(_pairs(spark, live_pairs), "id_a", "id_b", id_out="id")
    return (
        _ids(spark, live_ids)
        .select(F.col("doc_id").alias("id"))
        .join(cc, on="id", how="left")
        .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id"))
    )


def _assert_state(labels, expected):
    got = labels.read().select("id", "cluster_id")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


@pytest.fixture()
def stores(spark, tmp_path):
    root = str(tmp_path / "cc")
    shutil.rmtree(root, ignore_errors=True)
    return LakeTable(spark, root + "/labels"), LakeTable(spark, root + "/edges")


def test_insert_merges_components(spark, stores):
    labels, edges = stores
    # two components {1,2} {4,5} + isolated 9
    build_cluster_state(
        labels, edges, _pairs(spark, [(1, 2), (4, 5)]), _ids(spark, [1, 2, 4, 5, 9])
    )
    # new doc 3 bridges them
    maintain_clusters(
        labels,
        edges,
        _pairs(spark, [(2, 3), (3, 4)]),
        _ids(spark, [3]),
        _ids(spark, []),
        epoch_id="e1",
    )
    _assert_state(
        labels,
        _expected(spark, [1, 2, 3, 4, 5, 9], [(1, 2), (4, 5), (2, 3), (3, 4)]),
    )
    # the bridge collapsed everything to cluster 1
    assert (
        labels.read().filter(F.col("id") == 5).select("cluster_id").collect()[0][0]
        == 1
    )


def test_delete_splits_chain(spark, stores):
    labels, edges = stores
    # chain 1-2-3: one component labeled 1
    build_cluster_state(
        labels, edges, _pairs(spark, [(1, 2), (2, 3)]), _ids(spark, [1, 2, 3])
    )
    # delete the middle doc: 1 and 3 must become singletons
    maintain_clusters(
        labels,
        edges,
        _pairs(spark, []),
        _ids(spark, []),
        _ids(spark, [2]),
        epoch_id="e1",
    )
    _assert_state(labels, _expected(spark, [1, 3], []))
    assert edges.read().count() == 0


def test_update_drops_stale_edges(spark, stores):
    labels, edges = stores
    build_cluster_state(
        labels, edges, _pairs(spark, [(1, 2), (2, 3)]), _ids(spark, [1, 2, 3])
    )
    # doc 2's text changed: it now matches only 3, not 1 → Δ carries the
    # surviving pair, the 1-2 edge is stale and must split 1 off
    maintain_clusters(
        labels,
        edges,
        _pairs(spark, [(2, 3)]),
        _ids(spark, [2]),
        _ids(spark, []),
        epoch_id="e1",
    )
    _assert_state(labels, _expected(spark, [1, 2, 3], [(2, 3)]))


def test_delta_pair_with_removed_min_endpoint_not_a_label(spark, stores):
    """A delta pair whose removed endpoint is its component's minimum id
    (verified against the pre-epoch corpus) must not label the
    survivor with the deleted id, nor land in the edge store."""
    labels, edges = stores
    build_cluster_state(labels, edges, _pairs(spark, [(1, 2)]), _ids(spark, [1, 2, 3]))
    # doc 3 updated, doc 1 deleted; the Δ verify still paired 3 with 1
    maintain_clusters(
        labels,
        edges,
        _pairs(spark, [(1, 3)]),
        _ids(spark, [3]),
        _ids(spark, [1]),
        epoch_id="e1",
    )
    _assert_state(labels, _expected(spark, [2, 3], []))
    assert edges.read().count() == 0


def test_untouched_components_not_relabeled(spark, stores):
    labels, edges = stores
    build_cluster_state(
        labels, edges, _pairs(spark, [(1, 2), (7, 8)]), _ids(spark, [1, 2, 7, 8])
    )
    v_before = labels.versions.current()
    maintain_clusters(
        labels,
        edges,
        _pairs(spark, [(2, 3)]),
        _ids(spark, [3]),
        _ids(spark, []),
        epoch_id="e1",
    )
    _assert_state(labels, _expected(spark, [1, 2, 3, 7, 8], [(1, 2), (2, 3), (7, 8)]))
    # the epoch's row-level diff touches only the affected component
    changed_ids = {
        r.id
        for r in labels.changelog(
            v_before, labels.versions.current(), ["id"]
        ).collect()
    }
    assert changed_ids <= {1, 2, 3}


def test_redelivered_epoch_skips(spark, stores):
    labels, edges = stores
    build_cluster_state(labels, edges, _pairs(spark, [(1, 2)]), _ids(spark, [1, 2]))
    batch = dict(
        delta_pairs=_pairs(spark, [(2, 3)]),
        upserted_ids=_ids(spark, [3]),
        removed_ids=_ids(spark, []),
    )
    maintain_clusters(labels, edges, epoch_id="e1", **batch)
    out = maintain_clusters(labels, edges, epoch_id="e1", **batch)
    assert out.get("skipped")
    _assert_state(labels, _expected(spark, [1, 2, 3], [(1, 2), (2, 3)]))


def test_bucketed_backend_portability(spark, tmp_path):
    """Same epoch over PartitionedLakeTable stores — the 100 TB backend
    where MERGE rewrites only touched buckets. The delete-marked
    batches (removed ids, stale pairs) must behave identically."""
    from data_ingestion_resolution_platform_spark.sources.lake import (
        PartitionedLakeTable,
    )

    root = str(tmp_path / "ccb")
    labels = PartitionedLakeTable(spark, root + "/labels", ["id"], n_buckets=4)
    edges = PartitionedLakeTable(
        spark, root + "/edges", ["id_a", "id_b"], n_buckets=4
    )
    build_cluster_state(
        labels, edges, _pairs(spark, [(1, 2), (2, 3), (7, 8)]), _ids(spark, [1, 2, 3, 7, 8])
    )
    # doc 2 deleted (splits the chain), doc 9 arrives bridging 3 and 7
    maintain_clusters(
        labels,
        edges,
        _pairs(spark, [(3, 9), (7, 9)]),
        _ids(spark, [9]),
        _ids(spark, [2]),
        epoch_id="e1",
    )
    _assert_state(labels, _expected(spark, [1, 3, 7, 8, 9], [(3, 9), (7, 9), (7, 8)]))
    surviving = {(r.id_a, r.id_b) for r in edges.read().collect()}
    assert surviving == {(3, 9), (7, 9), (7, 8)}


def test_crash_replay_between_commits_converges(spark, stores):
    """Labels committed, edges commit crashed → re-delivery must land the
    identical edge batch and leave both stores at the full-recompute
    state (the docstring's convergence argument, exercised)."""
    labels, edges = stores
    build_cluster_state(
        labels,
        edges,
        _pairs(spark, [(1, 2), (4, 5), (6, 9), (7, 8)]),
        _ids(spark, [1, 2, 4, 5, 6, 7, 8, 9]),
    )
    # doc 2 changed (still matches 1, newly matches 4), doc 5 deleted —
    # Δ carries every post-epoch pair touching a changed doc. Docs 6 and
    # 8 are deleted on the id_a / id_b side of an edge whose partner (9 /
    # 7) is untouched: once the labels commit, no label reaches their
    # stale edges any more, so the replay must find them from the
    # removed ids alone.
    batch = dict(
        delta_pairs=_pairs(spark, [(1, 2), (2, 4)]),
        upserted_ids=_ids(spark, [2]),
        removed_ids=_ids(spark, [5, 6, 8]),
    )
    # crash: let the labels MERGE land, then fail the edges MERGE
    real_merge = edges.merge

    def boom(*a, **k):
        raise RuntimeError("simulated crash before edge commit")

    edges.merge = boom
    with pytest.raises(RuntimeError):
        maintain_clusters(labels, edges, epoch_id="e1", **batch)
    edges.merge = real_merge
    assert labels.epoch_committed("e1") and not edges.epoch_committed("e1")

    # re-delivery: labels no-ops via the ledger, edges completes
    maintain_clusters(labels, edges, epoch_id="e1", **batch)
    assert edges.epoch_committed("e1")
    _assert_state(labels, _expected(spark, [1, 2, 4, 7, 9], [(1, 2), (2, 4)]))
    surviving = {(r.id_a, r.id_b) for r in edges.read().collect()}
    assert surviving == {(1, 2), (2, 4)}
