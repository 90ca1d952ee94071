"""Maintained global triangle count (`graph_incremental.maintain_triangle_count`).

The hard cases are multi-delta triangles: a triangle whose 2 or 3 edges
all arrive in ONE epoch must count once (set semantics over canonical
triples), and a triangle holding both an added and a removed edge must
contribute to neither term.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.graph import triangle_count
from data_ingestion_resolution_platform_spark.operators.graph_incremental import (
    build_triangle_state,
    maintain_triangle_count,
)
from data_ingestion_resolution_platform_spark.sources.lake import LakeTable


def _pairs(spark, rows):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in rows] or [], "id_a long, id_b long"
    )


@pytest.fixture()
def stores(spark, tmp_path):
    root = str(tmp_path / "tri")
    return LakeTable(spark, root + "/edges"), LakeTable(spark, root + "/stats")


def _counts(stats):
    row = stats.read().collect()[0]
    return row["n_triangles"], row["n_edges"]


def _expected(spark, edges):
    row = triangle_count(_pairs(spark, edges), "id_a", "id_b").collect()[0]
    return row["n_triangles"], row["n_edges"]


def test_whole_triangle_in_one_epoch_counts_once(spark, stores):
    edges, stats = stores
    build_triangle_state(edges, stats, _pairs(spark, [(1, 2)]), epoch_id="seed")
    assert _counts(stats) == (0, 1)
    # all three edges of {4,5,6} plus the two closers of {1,2,3} arrive
    # in one epoch: exactly 2 new triangles, never 3+2 double counts
    maintain_triangle_count(
        edges,
        stats,
        _pairs(spark, [(4, 5), (5, 6), (4, 6), (1, 3), (2, 3)]),
        _pairs(spark, []),
        epoch_id="e1",
    )
    assert _counts(stats) == (2, 6)
    assert _counts(stats) == _expected(
        spark, [(1, 2), (1, 3), (2, 3), (4, 5), (5, 6), (4, 6)]
    )


def test_removal_destroys_and_mixed_triangle_is_neutral(spark, stores):
    edges, stats = stores
    # triangle {1,2,3} + wedge 1-4, 2-4 (no 1-2... it exists: {1,2,4}
    # needs (1,4),(2,4),(1,2) — present, so seed has 2 triangles)
    seed = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)]
    build_triangle_state(edges, stats, _pairs(spark, seed), epoch_id="seed")
    assert _counts(stats) == _expected(spark, seed) == (2, 5)
    # remove (2,3) (kills {1,2,3}); add (3,4): candidate triangle
    # {2,3,4} holds BOTH the added (3,4) and the removed (2,3) — it is
    # in neither pre nor post and must not move the count; {1,3,4} is
    # genuinely created ((1,3),(1,4) survive)
    out = maintain_triangle_count(
        edges,
        stats,
        _pairs(spark, [(3, 4)]),
        _pairs(spark, [(2, 3)]),
        epoch_id="e1",
    )
    final = [(1, 2), (1, 3), (1, 4), (2, 4), (3, 4)]
    assert out["destroyed"] == 1 and out["created"] == 1
    assert _counts(stats) == _expected(spark, final) == (2, 5)


def test_noop_adds_and_removes_are_normalized(spark, stores):
    edges, stats = stores
    seed = [(1, 2), (2, 3), (1, 3)]
    build_triangle_state(edges, stats, _pairs(spark, seed), epoch_id="seed")
    # re-adding present edges and removing absent ones must change nothing
    out = maintain_triangle_count(
        edges,
        stats,
        _pairs(spark, [(1, 2), (2, 3)]),
        _pairs(spark, [(7, 8)]),
        epoch_id="e1",
    )
    assert out["created"] == 0 and out["destroyed"] == 0
    assert _counts(stats) == (1, 3)


def test_redelivery_and_crash_replay(spark, stores):
    edges, stats = stores
    build_triangle_state(
        edges, stats, _pairs(spark, [(1, 2), (2, 3)]), epoch_id="seed"
    )
    batch = dict(
        added_pairs=_pairs(spark, [(1, 3)]),
        removed_pairs=_pairs(spark, []),
    )
    # crash after the stats commit, before the edge commit
    real = edges.merge

    def boom(*a, **k):
        raise RuntimeError("crash before edge commit")

    edges.merge = boom
    with pytest.raises(RuntimeError):
        maintain_triangle_count(edges, stats, epoch_id="e1", **batch)
    edges.merge = real
    assert stats.epoch_committed("e1") and not edges.epoch_committed("e1")
    # replay: stats skips via its ledger, edges lands the identical batch
    maintain_triangle_count(edges, stats, epoch_id="e1", **batch)
    assert _counts(stats) == (1, 3)
    assert {(r.id_a, r.id_b) for r in edges.read().collect()} == {
        (1, 2), (2, 3), (1, 3)
    }
    # full redelivery is a no-op
    assert maintain_triangle_count(edges, stats, epoch_id="e1", **batch)["skipped"]


def test_stats_row_read_by_metric_not_position(spark, stores):
    # a second metric row sharing the stats table must not be mistaken
    # for the triangle row, whichever row a scan returns first
    edges, stats = stores
    build_triangle_state(edges, stats, _pairs(spark, [(1, 2), (2, 3)]), epoch_id="seed")
    stats.merge(
        spark.createDataFrame(
            [("aux", 99, 99), ("triangles", 0, 2)],
            "metric string, n_triangles long, n_edges long",
        ).coalesce(1),
        ["metric"],
        epoch_id="aux",
    )
    assert stats.read().collect()[0]["metric"] == "aux"
    maintain_triangle_count(
        edges, stats, _pairs(spark, [(1, 3)]), _pairs(spark, []), epoch_id="e1"
    )
    got = {r["metric"]: (r["n_triangles"], r["n_edges"]) for r in stats.read().collect()}
    assert got == {"triangles": (1, 3), "aux": (99, 99)}
