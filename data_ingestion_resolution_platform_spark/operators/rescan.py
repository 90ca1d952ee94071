"""Group-pruned rescan maintenance — the strategy for per-group read
models that are NOT delta-decomposable.

`operators/ivm.py` maintains aggregates whose algebra admits signed
deltas (SUM-like), zero-crossing multiplicities (COUNT DISTINCT), or
bounded retraction rescans (MIN/MAX). Some reference read models resist
all three: an ordered funnel's "first click AT OR AFTER the first view"
makes every stage's value depend on the previous stage's — inserting
one early view can invalidate a user's click AND purchase stages at
once, and deleting it can resurrect them. There is no useful delta
algebra; the correct maintained form is:

    per epoch, recompute the aggregate for EXACTLY the groups the
    delta touched, from the post-epoch base table, and MERGE.

Cost is O(|affected groups| x group history), not O(table): the
affected-key frame is epoch-sized and broadcast, so the base-table read
is a broadcast-semi-join-pruned scan (partition/bucket-pruned too when
the base table is bucketed by the group key — the 100 TB layout), and
the MERGE batch is group-sized. This is the same shape the engine's
non-additive IVM uses for extreme retractions, promoted to a
first-class operator for whole-group read models.

Groups whose recompute returns no row (every contributing base row
deleted) are DELETED from the store through the lake's delete marker
(``sources/lake.DELETE_COL``), the same on every table layout.

Exactly-once: one ledgered MERGE per epoch; the recompute reads the
post-epoch base table, so a re-delivered epoch recomputes identical
rows and the ledger makes the MERGE a no-op.

Reference parity: the platform recomputes an application's issue rows
whenever its data is reprocessed — `worker.py` re-derives every
duplicate/validation issue for the touched application id on each run
(/root/reference/backend/worker.py:231-415, scoped by application) and
leaves other applications' rows alone. This operator is that
recompute-on-touch semantic, pruned to the touched groups and run
distributed.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.sources.lake import DELETE_COL


def maintain_group_rescan(
    store,
    keys: Sequence[str],
    affected: DataFrame,
    recompute: Callable[[DataFrame], DataFrame],
    epoch_id: str | int | None = None,
    group_keys: Sequence[str] | None = None,
) -> dict:
    """Advance ``store`` by recomputing the affected groups only.

    ``affected``: the epoch's touched group keys (epoch-sized, carries
    exactly ``group_keys`` if given, else ``keys``). ``recompute(
    affected)`` must return ALL post-epoch store rows for those groups —
    the callable closes over the base table and is expected to prune its
    scan with the given frame (broadcast it; at scale the base table is
    bucketed by the group key so the join is also storage-pruned).

    ``group_keys``: when a group owns MULTIPLE store rows (e.g. one row
    per (user, active_week) with the group = user), pass the group-level
    subset of ``keys``. Stale-row deletion then sweeps the group's
    CURRENT store rows (a broadcast-pruned probe of the store) minus the
    recomputed set, so rows the rescan no longer emits disappear without
    the caller enumerating them.
    """
    if epoch_id is not None and store.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}
    key_list = list(keys)
    g_list = list(group_keys) if group_keys is not None else key_list
    aff = affected.select(*g_list).distinct().localCheckpoint(eager=False)
    rows = recompute(aff).localCheckpoint(eager=False)
    if group_keys is None:
        gone = aff.join(rows.hint("broadcast"), on=key_list, how="left_anti")
    else:
        store.create(rows.schema)
        gone = (
            store.lookup(aff)
            .select(*key_list)
            .join(rows.hint("broadcast"), on=key_list, how="left_anti")
        )
    batch = rows.withColumn(DELETE_COL, F.lit(False)).unionByName(
        gone.withColumn(DELETE_COL, F.lit(True)), allowMissingColumns=True
    )
    stats = store.merge(batch, key_list, epoch_id=epoch_id)
    return {"store": stats, "epoch": str(epoch_id)}
