"""Incrementally-maintained duplicate clusters (connected components
advanced per CDC epoch).

`operators/dedup_incremental.py` keeps the MinHash-LSH *pair* source
incremental — per epoch only the changed docs are shingled and the
emitted candidate pairs all touch a changed doc. But the training-data
deliverable is *clusters* (transitive closure → one canonical doc per
duplicate group), and batch `operators/graph.connected_components`
recomputes labels for the WHOLE corpus: at 100 TB that is a full
|V|+|E| multi-shuffle job per delivery even when the epoch touched a
few thousand docs.

This module maintains two lake tables instead:

- ``labels``: one row per live doc — ``(id, cluster_id)``, cluster_id =
  min doc id of the component (same deterministic labeling as the batch
  operator, so the maintained state is directly comparable to a full
  recompute);
- ``edges``: the surviving near-dup pairs ``(id_a, id_b)`` with
  ``id_a < id_b`` — the post-verify pair list, O(near-dup pairs), tiny
  relative to the corpus.

Per epoch (Δ pairs from the incremental LSH/verify stage, plus the
epoch's upserted/removed doc ids), it relabels ONLY the affected
components:

1. **touched** = upserted ∪ removed ∪ endpoints(Δpairs) — epoch-sized.
2. **affected components** A = the distinct ``cluster_id``s of touched
   ids (labels ⨝ broadcast(touched): the corpus-sized labels table is
   probed by a broadcast hash join, never shuffled).
3. **scope** = every node of every component in A (labels ⨝
   broadcast(A)) — bounded by the size of the affected components, not
   the corpus. Near-dup components are small and low-diameter by
   construction (they are Jaccard/MinHash balls), so this is
   epoch-sized too.
4. **scope edges** = (edge store ⨝ broadcast(scope nodes), minus edges
   touching an upserted/removed doc — a changed doc's OLD pairs are
   stale by definition) ∪ Δpairs. Component splits caused by deletes
   and by updates-that-no-longer-match fall out naturally: the stale
   edges are simply absent from the rerun.
5. rerun hash-min + pointer-doubling CC (`graph.connected_components`)
   on that subgraph only; docs in scope with no surviving edge become
   their own singleton cluster.
6. MERGE the new labels (upserts + removed-as-DELETE) into ``labels``
   and the pair delta (Δpairs as upserts, stale pairs as DELETE) into
   ``edges`` — both under the lake's exactly-once epoch ledger, batch
   sizes O(affected), the broadcast-pruned MERGE path.

Crash-replay convergence: both MERGE batches are computed from the
pre-epoch snapshot, labels commit first. If the job dies between the
two commits, the re-delivered epoch recomputes scope from the advanced
labels + stale edge store: the affected set it derives is a superset of
the crashed epoch's (new labels map touched nodes to their new
clusters), stale edges are found from the changed ids themselves (the
removed ids join the probe set and the edge store is probed on both
endpoints, so no label is needed to reach them), and min-id labeling is
insensitive to widening the scope to whole components — so the labels
MERGE no-ops via the ledger and the edges MERGE lands the identical
batch. Covered by `tests/test_graph_incremental.py::test_crash_replay`.

At scale, back both stores with `PartitionedLakeTable` (hash-bucketed
on id / id_a) so each epoch's MERGE rewrites only touched buckets;
the reads above are already broadcast-pruned scans.

Reference semantics parity: the platform groups duplicate rows by
identity signature and keeps ONE issue per duplicate group
(/root/reference/backend/worker.py:282-392 tracks signatures and
upserts the group's candidates; main.py:206 resolves the group to one
chosen row) — this is that group-resolution semantic lifted to
streaming near-dup graphs, where transitive closure defines the group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.graph import (
    connected_components,
)
from data_ingestion_resolution_platform_spark.sources.lake import DELETE_COL


def _ids(df: DataFrame, col: str) -> DataFrame:
    return df.select(F.col(col).alias("id"))


def _canon_pairs(df: DataFrame) -> DataFrame:
    return (
        df.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def build_cluster_state(
    labels,
    edges,
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    epoch_id: str | int | None = None,
) -> dict:
    """Bootstrap (or rebuild) both stores from a full pair recompute.

    ``pairs`` must carry ``id_a``/``id_b``; ``all_ids`` the full doc-id
    universe (isolated docs become singleton clusters).
    """
    canon = pairs.select(
        F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b")
    ).distinct()
    cc = connected_components(canon, "id_a", "id_b", id_out="id")
    full = (
        _ids(all_ids, id_col)
        .join(cc, on="id", how="left")
        .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id"))
    )
    stats_l = labels.merge(full, ["id"], epoch_id=epoch_id)
    stats_e = edges.merge(canon, ["id_a", "id_b"], epoch_id=epoch_id)
    return {"labels": stats_l, "edges": stats_e}


def maintain_clusters(
    labels,
    edges,
    delta_pairs: DataFrame,
    upserted_ids: DataFrame,
    removed_ids: DataFrame,
    id_col: str = "doc_id",
    epoch_id: str | int | None = None,
) -> dict:
    """Advance ``labels``/``edges`` by one change-feed epoch.

    ``delta_pairs``: the post-epoch near-dup pairs touching at least one
    upserted doc (exactly what `incremental_minhash_epoch` / a Δ-blocked
    Jaccard verify emits). ``upserted_ids``: inserted + updated doc ids
    (post-image live). ``removed_ids``: tombstoned doc ids. Cost is
    O(|Δ| + affected-component size); the corpus-sized stores are only
    probed via broadcast joins and merged via the broadcast-pruned
    MERGE path.
    """
    if epoch_id is not None and labels.epoch_committed(epoch_id) and edges.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}

    up = _ids(upserted_ids, id_col).distinct().localCheckpoint(eager=False)
    rm = _ids(removed_ids, id_col).distinct().localCheckpoint(eager=False)
    # a delta pair with a removed endpoint (e.g. verified against the
    # pre-epoch corpus) must neither enter the relabel scope — its
    # removed doc could become a survivor's cluster label — nor land in
    # the edge store; both frames are epoch-sized
    delta = (
        delta_pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
        .join(F.broadcast(rm.select(F.col("id").alias("id_a"))), on="id_a", how="left_anti")
        .join(F.broadcast(rm.select(F.col("id").alias("id_b"))), on="id_b", how="left_anti")
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )

    touched = (
        up.unionByName(rm)
        .unionByName(delta.select(F.col("id_a").alias("id")))
        .unionByName(delta.select(F.col("id_b").alias("id")))
        .distinct()
    )

    cur = labels.read()
    # affected components: clusters containing any touched id. touched is
    # epoch-sized → broadcast; labels never shuffles.
    affected = (
        cur.join(F.broadcast(touched), on="id")
        .select("cluster_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # full membership of those components (plus brand-new ids not yet in
    # the store) — the relabeling scope
    scope_members = cur.join(F.broadcast(affected), on="cluster_id").select("id")
    # pre-epoch membership plus every changed id — the edge-store probe
    # key. The removed ids are unioned in explicitly: on a replay after
    # the labels commit, no label reaches them any more, yet their stale
    # edges must still be found and deleted
    scan_nodes = (
        scope_members.unionByName(up).unionByName(rm).distinct().localCheckpoint(eager=False)
    )
    scope_nodes = scan_nodes.join(
        rm.hint("broadcast"), on="id", how="left_anti"
    ).localCheckpoint(eager=False)

    # surviving old edges inside the scope: probe the pair store with the
    # (small) scope-node set on both endpoints (a changed doc may sit on
    # id_b of an edge whose id_a partner is out of scope); drop every
    # pair touching a changed doc — its current pairs, if any, are in delta.
    stale_ends = up.unionByName(rm).localCheckpoint(eager=False)
    edges.create(delta.schema)
    old_edges = edges.read().select("id_a", "id_b")
    scoped_old = old_edges.join(
        F.broadcast(scan_nodes.select(F.col("id").alias("id_a"))), on="id_a"
    ).unionByName(
        old_edges.join(
            F.broadcast(scan_nodes.select(F.col("id").alias("id_b"))), on="id_b"
        ).select("id_a", "id_b")
    ).distinct()
    stale = scoped_old.join(
        F.broadcast(stale_ends.select(F.col("id").alias("id_a"))),
        on="id_a",
        how="left_semi",
    ).unionByName(
        scoped_old.join(
            F.broadcast(stale_ends.select(F.col("id").alias("id_b"))),
            on="id_b",
            how="left_semi",
        ).select("id_a", "id_b")
    ).distinct().localCheckpoint(eager=False)
    surviving = scoped_old.join(
        stale.hint("broadcast"), on=["id_a", "id_b"], how="left_anti"
    )

    scope_edges = surviving.unionByName(delta).distinct()

    cc = connected_components(scope_edges, "id_a", "id_b", id_out="id")
    relabeled = (
        scope_nodes.join(cc, on="id", how="left")
        .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id"))
    )

    # one keyed batch per store: removed ids and stale pairs carry the
    # lake's delete marker
    label_batch = relabeled.withColumn(DELETE_COL, F.lit(False)).unionByName(
        rm.select("id", F.lit(True).alias(DELETE_COL)), allowMissingColumns=True
    )
    stats_l = labels.merge(label_batch, ["id"], epoch_id=epoch_id)
    edge_batch = delta.withColumn(DELETE_COL, F.lit(False)).unionByName(
        stale.join(delta.hint("broadcast"), on=["id_a", "id_b"], how="left_anti")
        .withColumn(DELETE_COL, F.lit(True))
    )
    stats_e = edges.merge(edge_batch, ["id_a", "id_b"], epoch_id=epoch_id)
    return {"labels": stats_l, "edges": stats_e, "epoch": str(epoch_id)}


# --------------------------------------------------------------------------
# Maintained global triangle count
# --------------------------------------------------------------------------
#
# `operators/graph.triangle_count` is the batch answer: degree-oriented
# wedge joins over the WHOLE edge set, O(m^1.5) worst-case per delivery.
# A change feed touches a handful of edges per epoch, and a triangle's
# existence only changes when one of ITS OWN edges does — so the count is
# maintainable from the edge delta alone:
#
#   T(post) = T(pre) - |{triangles of PRE containing a removed edge}|
#                    + |{triangles of POST containing an added edge}|
#
# Counting each side by enumerating distinct canonical (x,y,z) triples
# makes triangles with 2 or 3 delta edges count once (set semantics, no
# inclusion-exclusion bookkeeping), and a triangle with BOTH an added and
# a removed edge correctly contributes to neither term (it is absent from
# pre AND post). Every probe of the corpus-sized edge store broadcasts
# the epoch-sized side; the two emitted scalars are bounded collects.


def _triangles_touching(x_edges: DataFrame, graph: DataFrame) -> int:
    """Distinct triangles of ``graph`` containing ≥1 edge of ``x_edges``
    (both canonical (id_a < id_b) pair frames; X is epoch-sized).

    Wedges fan out from each X edge's ``id_a`` endpoint: the corpus
    adjacency is probed by a broadcast hash join on the X side, the
    candidate (u,v,w) frame (|X| x avg-degree rows) is then broadcast
    against the store for the closing-edge check, and the distinct
    sorted-triple count is a single bounded aggregate."""
    sym = graph.select(F.col("id_a").alias("u"), F.col("id_b").alias("w")).unionByName(
        graph.select(F.col("id_b").alias("u"), F.col("id_a").alias("w"))
    )
    x = x_edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    cand = sym.join(F.broadcast(x), on="u").filter(F.col("w") != F.col("v"))
    closing = cand.select(
        "u",
        "v",
        "w",
        F.least("v", "w").alias("id_a"),
        F.greatest("v", "w").alias("id_b"),
    )
    tri = graph.join(F.broadcast(closing), on=["id_a", "id_b"], how="inner")
    return (
        tri.select(F.array_sort(F.array("u", "v", "w")).alias("t")).distinct().count()
    )


def build_triangle_state(
    edges,
    stats,
    pairs: DataFrame,
    epoch_id: str | int | None = None,
) -> dict:
    """Seed the edge store + the 1-row stats table from a full pair set
    (the batch `graph.triangle_count` pays the full wedge join once)."""
    from data_ingestion_resolution_platform_spark.operators.graph import (
        triangle_count,
    )

    canon = _canon_pairs(pairs).localCheckpoint(eager=False)
    counts = triangle_count(canon, "id_a", "id_b").withColumn(
        "metric", F.lit("triangles")
    )
    stats_s = stats.merge(counts, ["metric"], epoch_id=epoch_id)
    stats_e = edges.merge(canon, ["id_a", "id_b"], epoch_id=epoch_id)
    return {"stats": stats_s, "edges": stats_e}


def maintain_triangle_count(
    edges,
    stats,
    added_pairs: DataFrame,
    removed_pairs: DataFrame,
    epoch_id: str | int | None = None,
) -> dict:
    """Advance the maintained triangle/edge counts by one edge-delta
    epoch, O(|delta| x avg-degree) instead of a full recount.

    ``added_pairs`` / ``removed_pairs`` are the epoch's edge delta (the
    doc-level stale/delta algebra of `maintain_clusters` produces
    exactly these: stale-minus-delta is removed, delta-minus-store is
    added). Requested adds already present and removes already absent
    are no-ops — the delta is normalized against the store first, so
    re-derived or overlapping feeds cannot double-count.

    Commit order is stats FIRST, then edges: both batches are computed
    from the pre-epoch store, so a crash between the two commits
    replays deterministically (stats skips via its ledger, the edge
    MERGE lands the identical batch) — same convergence argument as
    `maintain_clusters`, tested in test_graph_incremental.py."""
    if epoch_id is not None and stats.epoch_committed(epoch_id) and edges.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}

    pre = edges.read().select("id_a", "id_b").localCheckpoint(eager=False)
    add_req = _canon_pairs(added_pairs).localCheckpoint(eager=False)
    rm_req = _canon_pairs(removed_pairs).localCheckpoint(eager=False)
    # normalize against the store: A = truly new, R = actually present.
    # Both probes keep the corpus-sized ``pre`` on the STREAM side of a
    # broadcast join (an anti join with the store on the build side
    # would shuffle it): present adds are found by probing pre with the
    # broadcast request, then subtracted from the (small) request.
    present_adds = pre.join(
        F.broadcast(add_req), on=["id_a", "id_b"], how="left_semi"
    )
    a = add_req.join(
        present_adds.hint("broadcast"), on=["id_a", "id_b"], how="left_anti"
    ).localCheckpoint(eager=False)
    r = pre.join(
        F.broadcast(rm_req), on=["id_a", "id_b"], how="left_semi"
    ).localCheckpoint(eager=False)

    destroyed = _triangles_touching(r, pre)
    post = pre.join(F.broadcast(r), on=["id_a", "id_b"], how="left_anti").unionByName(
        a
    ).localCheckpoint(eager=False)
    created = _triangles_touching(a, post)
    n_add, n_rm = a.count(), r.count()

    from data_ingestion_resolution_platform_spark.util import local_df

    rows = stats.read().filter(F.col("metric") == "triangles").collect()
    if len(rows) != 1:
        raise ValueError(
            f"stats table holds {len(rows)} 'triangles' rows; expected exactly 1"
        )
    row = rows[0]
    counts = local_df(
        stats.spark,
        [
            (
                "triangles",
                int(row["n_triangles"]) - destroyed + created,
                int(row["n_edges"]) - n_rm + n_add,
            )
        ],
        "metric string, n_triangles long, n_edges long",
    )
    stats_s = stats.merge(counts, ["metric"], epoch_id=epoch_id)
    edge_batch = a.withColumn(DELETE_COL, F.lit(False)).unionByName(
        r.withColumn(DELETE_COL, F.lit(True))
    )
    stats_e = edges.merge(edge_batch, ["id_a", "id_b"], epoch_id=epoch_id)
    return {
        "stats": stats_s,
        "edges": stats_e,
        "created": created,
        "destroyed": destroyed,
        "epoch": str(epoch_id),
    }
