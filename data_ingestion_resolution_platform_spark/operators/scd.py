"""SCD Type-2 historization of a CDC change feed (SURVEY.md §2.5/§2.7).

The reference platform keeps only the *latest* resolved row per natural
key (``worker.py``'s resolve-then-upsert loop); a warehouse consumer of
the same feed usually also wants the full version history — every
attribute change as a validity interval. This module derives that
history from the same I/U/D feed the CDC family consumes:

- each I or U event whose tracked attributes actually *changed* opens a
  new version, valid from its LSN;
- the next boundary event (change, re-insert, or tombstone) closes it
  (``valid_to_lsn`` exclusive);
- a D tombstone closes the open version and opens nothing;
- the newest open version per key is flagged ``is_current``.

Scale notes (100 TB): the whole operator is two window functions over
ONE hash-partitioning on the natural key — a single shuffle, both sorts
share the (key, lsn) order so the exchange is reused. No state beyond
the window frame (lag/lead of one row); no collect, no UDF. Per-key
event counts bound the sort, not memory. A pathologically hot key is
sorted within one task — the same bound every LWW window carries — and
is mitigated upstream by epoch-sliced replay (each micro-batch
historizes only its own delta, then MERGEs on (keys, valid_from_lsn)).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.sources.lake import DELETE_COL


def scd2_history(
    feed: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    attr_cols: Sequence[str],
) -> DataFrame:
    """Collapse an ordered I/U/D feed into type-2 validity intervals.

    Returns one row per *distinct consecutive attribute state* per key:
    ``keys…, attr_cols…, valid_from_lsn, valid_to_lsn (nullable),
    is_current (int 0/1)``. No-op updates (attributes null-safe-equal
    to the previous surviving state, with no tombstone in between) are
    dropped; a re-insert after a D always opens a new version even if
    attributes match the deleted one.
    """
    w = Window.partitionBy(*keys).orderBy(lsn_col)
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    prev_attrs = F.lag(attrs).over(w)
    prev_op = F.lag(F.col("op")).over(w)
    # Boundary = first event, tombstone, first event after a tombstone,
    # or attribute change. Comparing against the *immediate* predecessor
    # is equivalent to comparing against the previous survivor: a run of
    # equal-attribute events with no D inside collapses inductively.
    boundary = (
        (F.col("op") == F.lit("D"))
        | prev_op.isNull()
        | (prev_op == F.lit("D"))
        | ~attrs.eqNullSafe(prev_attrs)
    )
    b = feed.withColumn("__boundary", boundary).filter(F.col("__boundary"))
    # Same partitioning + ordering as `w`: Catalyst reuses the exchange.
    w2 = Window.partitionBy(*keys).orderBy(lsn_col)
    closed = b.withColumn("valid_to_lsn", F.lead(F.col(lsn_col)).over(w2))
    versions = closed.filter(F.col("op") != F.lit("D"))
    return versions.select(
        *keys,
        *attr_cols,
        F.col(lsn_col).alias("valid_from_lsn"),
        "valid_to_lsn",
        F.col("valid_to_lsn").isNull().cast("int").alias("is_current"),
    )


def scd2_apply_increment(
    open_versions: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    attr_cols: Sequence[str],
) -> DataFrame:
    """One epoch of incremental SCD2 maintenance: the MERGE batch that
    advances a type-2 history by a feed delta WITHOUT rescanning it.

    ``open_versions`` is the history's current rows (``is_current=1``);
    ``delta`` is this epoch's feed slice, whose LSNs must all exceed
    the history's (the CDC replay contract — epochs are LSN-ordered).
    Returns a key-unique batch for ``MERGE ON (keys, valid_from_lsn)``:

    - delta-internal versions from :func:`scd2_history` (INSERTs);
    - for each delta key with an open version, that version refitted
      (UPDATE): closed at the delta's first event LSN when state
      changes or a tombstone arrives, or *extended* when the delta's
      first event is a null-safe no-op continuation — in which case
      the delta's first version is suppressed from the inserts so the
      result is row-identical to historizing the whole feed at once.

    Scale notes (100 TB): every aggregate here is delta-sized (firsts,
    first-versions). The history participates only through
    ``open_versions``; the broadcast inner join against the delta-key
    fix-up frame filters it during the scan (no shuffle of the
    history), and when the history is stored bucketed/partitioned on
    the natural key the scan itself prunes to touched buckets — the
    MERGE that consumes this batch pays the same pruned-rewrite cost,
    so the epoch's shuffle volume is O(|delta|) throughout.

    The LSN-ordering contract is NOT assumed silently:
    :func:`historize_epoch` validates the produced batch (any
    ``valid_to_lsn < valid_from_lsn`` means an out-of-order delta) and
    refuses to corrupt the table.
    """
    dv = scd2_history(delta, keys, lsn_col, attr_cols)
    first_ev = F.struct(F.col(lsn_col), F.col("op"), *[F.col(c) for c in attr_cols])
    firsts = (
        delta.groupBy(*keys)
        .agg(F.min_by(first_ev, F.col(lsn_col)).alias("__f"))
        .select(
            *keys,
            F.col(f"__f.{lsn_col}").alias("__f_lsn"),
            F.col("__f.op").alias("__f_op"),
            *[F.col(f"__f.{c}").alias(f"__f_{c}") for c in attr_cols],
        )
    )
    v1 = (
        dv.groupBy(*keys)
        .agg(
            F.min_by(
                F.struct("valid_from_lsn", "valid_to_lsn"), F.col("valid_from_lsn")
            ).alias("__v1")
        )
        .select(
            *keys,
            F.col("__v1.valid_from_lsn").alias("__v1_from"),
            F.col("__v1.valid_to_lsn").alias("__v1_to"),
        )
    )
    fixup = firsts.join(v1, on=list(keys), how="left")
    touched = open_versions.join(F.broadcast(fixup), on=list(keys), how="inner")
    cont = F.col("__f_op") != F.lit("D")
    for c in attr_cols:
        cont = cont & F.col(c).eqNullSafe(F.col(f"__f_{c}"))
    updated = touched.select(
        *keys,
        *attr_cols,
        "valid_from_lsn",
        F.when(cont, F.col("__v1_to")).otherwise(F.col("__f_lsn")).alias(
            "valid_to_lsn"
        ),
        F.when(cont & F.col("__v1_to").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_current"),
    )
    cont_v1 = touched.filter(cont).select(
        *keys, F.col("__v1_from").alias("valid_from_lsn")
    )
    inserts = dv.join(
        F.broadcast(cont_v1), on=[*keys, "valid_from_lsn"], how="left_anti"
    )
    return updated.unionByName(inserts)


class Scd2HistoryStore:
    """SCD2-shaped storage that keeps epoch cost FLAT as history grows
    (r3 verdict #7): a closed version never changes once closed, so the
    history splits into

    - ``closed/``: an append-only LakeTable — every epoch APPENDS its
      newly-closed versions, O(|delta|), no rewrite of prior history;
    - ``open/``: a snapshot LakeTable holding exactly the current
      version per live key — the only mutable state, MERGEd per epoch,
      sized by the KEY COUNT (the target table's size), not by the
      ever-growing version count.

    A single LakeTable-backed history pays O(|history|) per epoch twice
    (the ``is_current == 1`` scan AND the COW rewrite); here the epoch
    reads ``open`` only (:meth:`open_versions`) and rewrites ``open``
    only. At 10^10 events the version count grows without bound while
    the key count tracks the table — this split is what makes SCD2
    maintenance sustainable (measured: see BENCH_SCD2_GROWTH.json —
    plain epoch cost grows with accumulated history, store stays flat).

    Exactly-once: both sub-tables ride their own epoch ledgers; the
    open-table merge is the commit point (``epoch_committed``), and the
    closed append is ledger-skipped on redelivery, so a crash between
    the two writes replays convergently (batches are deterministic).

    Duck-type compatible with what :func:`historize_epoch` needs
    (``epoch_committed / exists / read / merge``) plus the pruned
    ``open_versions`` fast path it prefers when present.
    """

    def __init__(
        self,
        spark,
        root: str,
        keys: Sequence[str],
        closed_small_file_bytes: int | None = None,
        closed_compact_min_dirs: int = 8,
    ):
        import os

        from data_ingestion_resolution_platform_spark.sources.lake import LakeTable

        self.spark = spark
        self.root = root
        self.keys = list(keys)
        # the closed side accumulates one small dir per epoch forever;
        # arming closed_small_file_bytes turns on LakeTable's measured
        # small-file auto-compaction (fold when mean file size degrades
        # below the threshold) so full-history reads stay O(few files)
        self._closed = LakeTable(
            spark,
            os.path.join(root, "closed"),
            append_only=True,
            compact_small_file_bytes=closed_small_file_bytes,
            compact_min_dirs=closed_compact_min_dirs,
        )
        self._open = LakeTable(spark, os.path.join(root, "open"))

    def epoch_committed(self, epoch_id) -> bool:
        return self._open.epoch_committed(epoch_id)

    def exists(self) -> bool:
        # open is written last and carries the commit ledger — a closed
        # append without it is an uncommitted epoch that will replay
        return self._open.exists()

    def open_versions(self) -> DataFrame:
        """The pruned epoch read: current versions only, never touching
        the accumulated closed history."""
        return self._open.read()

    def read(self) -> DataFrame:
        """The full logical history (closed ∪ open) — for consumers;
        epochs never call this."""
        if not self.exists():
            raise FileNotFoundError(f"scd2 history {self.root} has no data")
        opn = self._open.read()
        if not self._closed.exists():
            return opn
        return self._closed.read().select(*opn.columns).unionByName(opn)

    def merge(self, batch: DataFrame, on_keys: Sequence[str], epoch_id=None) -> dict:
        """Split-apply a :func:`scd2_apply_increment` /
        :func:`scd2_history` batch: closed rows append, open rows (or a
        delete for keys whose last event was a tombstone) MERGE on the
        natural key — each key holds at most one open version, so the
        open batch is key-unique by construction."""
        if epoch_id is not None and self.epoch_committed(epoch_id):
            return {"skipped": True, "epoch": str(epoch_id)}
        batch = batch.persist()
        try:
            closed_rows = batch.filter(F.col("is_current") == 0)
            opens = batch.filter(F.col("is_current") == 1)
            dels = (
                batch.select(*self.keys)
                .distinct()
                .join(opens.select(*self.keys), on=self.keys, how="left_anti")
                .withColumn(DELETE_COL, F.lit(True))
            )
            open_batch = opens.withColumn(DELETE_COL, F.lit(False)).unionByName(
                dels, allowMissingColumns=True
            )
            # skip all-open epochs: an empty append would leave a
            # part-file-less subdir (and the glob read schemaless when
            # EVERY epoch is empty); redelivery stays safe because the
            # batch is deterministic
            if closed_rows.limit(1).count() > 0:
                self._closed.append(closed_rows, epoch_id=epoch_id)
            return self._open.merge(open_batch, self.keys, epoch_id=epoch_id)
        finally:
            batch.unpersist()


#: Sentinel embedded in the folded replay-contract guard's raise_error
#: message so :func:`historize_epoch` can translate the engine error back
#: to the contract ``ValueError`` without swallowing unrelated failures.
_CONTRACT_MARKER = "scd2 replay contract violated:"


def historize_epoch(
    history,
    delta: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    attr_cols: Sequence[str],
    epoch_id,
) -> dict:
    """Exactly-once epoch apply of a feed delta to a LakeTable-backed
    SCD2 history (MERGE ON (keys, valid_from_lsn); a committed
    ``epoch_id`` short-circuits, so at-least-once redelivery is safe).
    Seeds the table from scratch on first call.

    Guards the replay contract (delta LSNs strictly after the
    history's): an out-of-order delta produces a refitted open version
    with ``valid_to_lsn < valid_from_lsn``. The guard is folded into
    the MERGE action itself (no separate per-epoch job): a violating
    row trips ``raise_error`` while the merge's own write evaluates the
    batch — inside the store's claim/release envelope and before its
    version-commit / ledger-record point — so the table is never
    corrupted and the epoch stays uncommitted for a correct
    redelivery; the engine error is translated back to the contract
    ``ValueError`` here.
    """
    if history.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}
    if not history.exists():
        batch = scd2_history(delta, keys, lsn_col, attr_cols)
    else:
        # Scd2HistoryStore serves the open set from its own snapshot —
        # O(open), independent of accumulated history; a plain LakeTable
        # history falls back to the filtered full scan
        open_v = (
            history.open_versions()
            if hasattr(history, "open_versions")
            else history.read().filter(F.col("is_current") == 1)
        )
        batch = scd2_apply_increment(open_v, delta, keys, lsn_col, attr_cols)
        # <= not <: a delta whose first LSN EQUALS an open version's
        # valid_from_lsn would produce a zero-length version plus two
        # batch rows sharing the MERGE key (keys, valid_from_lsn) —
        # legitimate in-order deltas always close strictly after
        # valid_from_lsn, so equality is a contract violation too.
        # Folded into the merge action (r4 advice): no separate
        # .count() job — the condition rides the MERGE-key column, so
        # whichever write first evaluates a violating row raises before
        # that table's commit point (open rows have NULL valid_to_lsn
        # and never trip it; dels/key-only projections prune the guard
        # but every actual write evaluates the full row).
        batch = batch.withColumn(
            "valid_from_lsn",
            F.when(
                F.col("valid_to_lsn") <= F.col("valid_from_lsn"),
                F.raise_error(
                    F.concat(
                        F.lit(_CONTRACT_MARKER + " key=("),
                        F.concat_ws(
                            ",", *[F.col(k).cast("string") for k in keys]
                        ),
                        F.lit(") valid_from="),
                        F.col("valid_from_lsn").cast("string"),
                        F.lit(" valid_to="),
                        F.col("valid_to_lsn").cast("string"),
                    )
                ).cast("long"),
            ).otherwise(F.col("valid_from_lsn")),
        )
    try:
        return history.merge(batch, [*keys, "valid_from_lsn"], epoch_id=epoch_id)
    except Exception as e:
        if _CONTRACT_MARKER in str(e):
            raise ValueError(
                f"epoch {epoch_id!r}: version(s) with valid_to_lsn <= "
                "valid_from_lsn — delta contains LSNs at or before the "
                "history's open versions (replay contract violated): "
                + str(e)[: str(e).find(_CONTRACT_MARKER) + 200]
            ) from e
        raise


def scd2_as_of(history: DataFrame, lsn: int) -> DataFrame:
    """Point-in-time read of an SCD2 history: the version visible at
    ``lsn`` (valid_from ≤ lsn < valid_to). Plans as two pushed-down
    range predicates — partition/file pruning applies when the history
    is stored partitioned or z-ordered on ``valid_from_lsn``."""
    return history.filter(
        (F.col("valid_from_lsn") <= F.lit(lsn))
        & (F.col("valid_to_lsn").isNull() | (F.col("valid_to_lsn") > F.lit(lsn)))
    )
