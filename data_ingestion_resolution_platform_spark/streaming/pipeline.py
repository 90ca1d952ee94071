"""The streaming CDC pipeline: readStream → foreachBatch → MERGE.

Re-expresses the reference worker loop
(`/root/reference/backend/worker.py:418-463` + `process_job`
`:231-415`) as Structured Streaming:

- queue long-poll (S5)        → file-stream source over the feed dir
- idempotency guard (M5)      → epoch ledger check on ``batchId``
- row pipeline + conflicts    → declarative plans (operators/cdc.py)
- finalize (A4/A5 + M1-M6)    → LWW resolve + LakeTable MERGE
- stats/status (A6/A7, M7)    → lineage rows per partition + status
- ack-on-success (S7)         → streaming checkpoint commit (offsets
                                 advance only after foreachBatch returns)

Exactly-once: the checkpoint gives at-least-once delivery of each
micro-batch; the epoch ledger inside ``LakeTable`` makes re-delivery a
no-op; MERGE keyed by natural key makes *partial replay* idempotent.
That is the same triad the reference hand-rolls with COMPLETED-status
checks + clear-and-rebuild + unique-key upserts (SURVEY.md §2.9).
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from data_ingestion_resolution_platform_spark.functions.hashing import content_sha256
from data_ingestion_resolution_platform_spark.operators.cdc import resolve_and_detect
from data_ingestion_resolution_platform_spark.session import codegen_compiles
from data_ingestion_resolution_platform_spark.sources.feed import CHANGE_FEED_SCHEMA
from data_ingestion_resolution_platform_spark.sources.lake import (
    CHANGE_COL,
    DELETE_COL,
    INSERT,
    POSTIMAGE,
    PREIMAGE,
    LakeTable,
    MorLakeTable,
    PartitionedLakeTable,
)
from data_ingestion_resolution_platform_spark.streaming.lineage import epoch_summary, lineage_rows
from data_ingestion_resolution_platform_spark.streaming.schema_evolution import reconcile_exprs


def run_concurrently(spark: SparkSession, steps: list) -> list:
    """Run independent epoch steps (zero-argument callables), one pool
    thread each, wait for EVERY step, then re-raise the first failure
    in step order, unwrapped; else return the steps' results in order.

    Spark local properties (job group, scheduler pool, SQL execution
    ids) are per thread, so each step is wrapped with
    ``inheritable_thread_target``: the steps' jobs land in the
    caller's job group, stay cancellable with it, and are counted
    under it by ``statusTracker``. This is the package's one place that
    starts threads (``tests/test_thread_sources.py``)."""
    if not steps:
        return []
    with ThreadPoolExecutor(max_workers=len(steps)) as pool:
        # one wrap per step: each wrap clones the caller's properties,
        # so a step that changes its own job group touches no other step
        futures = [pool.submit(inheritable_thread_target(spark)(step)) for step in steps]
    return [fut.result() for fut in futures]


def stage_then_commit(spark: SparkSession, steps: list, merge) -> dict:
    """Run ``steps`` and ``merge(before_commit=gate)`` on ONE
    :func:`run_concurrently` fan-out, the merge listed last, and return
    the merge's stats.

    Every step, the merge included, computes and stages at once; only
    the merge's COMMIT is ordered last. The merge calls ``gate`` after
    staging its files and before anything becomes visible: it blocks
    until every other step has returned and raises if any of them
    failed, so a failed step leaves the target uncommitted (the
    reference's audit → read models → finalized table commit order,
    reference/backend/worker.py:195-228). ``run_concurrently`` gives
    every step its own thread, so the waiting merge never starves a
    step, and re-raises the first failure in step order — the failed
    step's own error, not the gate's."""
    done = [threading.Event() for _ in steps]
    failed = threading.Event()

    def gated(step, finished: threading.Event) -> None:
        try:
            step()
        except BaseException:
            failed.set()
            raise
        finally:
            finished.set()

    def gate() -> None:
        for finished in done:
            finished.wait()
        if failed.is_set():
            raise RuntimeError("target commit withheld: another step of the epoch failed")

    gated_steps = [partial(gated, step, fin) for step, fin in zip(steps, done)]
    return run_concurrently(spark, [*gated_steps, partial(merge, before_commit=gate)])[-1]


class EpochChange:
    """One epoch's view change-set, built once and shared by every
    maintained view (the reference advances all of its read models from
    one job's changes, reference/backend/worker.py:195-228).

    The CDF is synthesized from what the target MERGE is about to do:
    ``pre`` holds the current target rows for the batch keys (every one
    is replaced or deleted → sign -1), ``post`` the surviving winners
    (sign +1). The target is probed ONCE, through its ``lookup`` on the
    (small) winner key set — a broadcast semi-join, never a target
    shuffle — and ``pre`` is persisted, so N views cost one probe. That
    probe prunes no bucket yet: ``lookup`` reads every live bucket's
    files, so each view-enabled epoch still reads the whole target
    (bucket pruning inside ``lookup`` is ROADMAP direction 3).
    ``base_after`` is the LOGICAL post-epoch state (target minus batch
    keys, plus surviving winners), left lazy: the top-k back-fill only
    evaluates it for the groups a retraction dirtied. ``batch`` is the
    epoch's raw (reconciled) batch, for the SCD2 history, which turns
    every event into a potential version boundary, not just winners.
    ``CDCPipeline.bootstrap`` builds it with ``winners = batch``.

    Empty state is a zero-row file scan (every table is created before
    its first probe), so the bootstrap's change-set plans, and compiles,
    like every later epoch's.

    The view steps read these frames CONCURRENTLY (``process_batch``
    runs them on a pool, beside the staging target MERGE) and strictly
    read-only: a view writes only its own table. Valid until the gated
    target commit (it vacuums the bucket versions ``pre`` and
    ``base_after`` were planned over), which :func:`stage_then_commit`
    holds back until every view step has returned; the caller releases
    it in ``finally``, after the whole fan-out has returned.
    """

    def __init__(self, target, batch: DataFrame, winners: DataFrame, keys) -> None:
        keys = list(keys)
        self.batch = batch
        self.post = winners.filter(F.col("op") != "D")
        self.pre = target.lookup(winners.select(*keys)).persist()
        self.base_after = (
            target.read()
            .join(F.broadcast(winners.select(*keys)), on=keys, how="left_anti")
            .unionByName(self.post, allowMissingColumns=True)
        )

    def changes(self, proj) -> DataFrame:
        """The signed pre/post mini-CDF projected onto ``proj`` (column
        names or expressions valid over both target and winner rows),
        with a ``CHANGE_COL`` column."""
        return self.pre.select(*proj, F.lit(PREIMAGE).alias(CHANGE_COL)).unionByName(
            self.post.select(*proj, F.lit(POSTIMAGE).alias(CHANGE_COL))
        )

    def release(self) -> None:
        self.pre.unpersist()


@dataclass
class CDCPipeline:
    """Config + orchestration for the source-code-table CDC engine.

    The feed contract is fixed (BASELINE.json north rule, SURVEY.md
    §1.4; ``sources/feed.CHANGE_FEED_SCHEMA``): natural key ``keys``
    = ``(repo, path)``, identity signature ``(lang, sha256(content))``,
    winner = last writer by ``lsn_col``, and the ``op`` envelope column
    I/U/D. The views' change-sets speak the one CDF vocabulary of
    ``sources/lake.py`` (``CHANGE_COL`` and its four change types).

    The maintained views are defined over that contract, so their
    shapes (group keys, tracked attributes, ordering measures,
    ``leaderboard_k``, ``freq_depth``) are the class constants below,
    not fields. Only the sketch width ``freq_width`` and the sample
    size ``quantile_k`` differ among callers (registry vs perfbench).

    Every append-only stream (the conflicts and lineage audits, the
    SCD2 history's closed versions) folds its epoch dirs under the
    append layout's one small-file policy (``sources/lake.LakeTable``'s
    measured auto-compaction). A MOR target folds its deltas every 8
    epochs.
    """

    keys = ("repo", "path")
    lsn_col = "lsn"
    stats_keys = ("repo",)
    history_attrs = ("commit", "lang", "content")
    view_join_key = "repo"
    view_attrs = ("lang", "commit")
    leaderboard_keys = ("repo",)
    leaderboard_order = "length(content)"
    leaderboard_k = 3
    freq_item = "lang"
    freq_depth = 4
    quantile_keys = ("repo",)
    quantile_value = "length(content)"

    spark: SparkSession
    feed_dir: str
    warehouse: str
    renames: dict = field(default_factory=dict)
    n_buckets: int = 32
    max_bucket_bytes: int = 256 << 20
    # "cow": bucket-pruned copy-on-write rewrite (read-optimized).
    # "mor": merge-on-read delta appends + periodic compaction
    # (ingest-optimized — O(batch) epoch cost even when every epoch
    # touches every bucket).
    target_mode: str = "cow"
    # opt-in incrementally-maintained metrics table (operators/ivm.py):
    # per-stats_key row counts + content bytes kept in lock-step with
    # the target WITHOUT ever rescanning it — the epoch's pre-images
    # (current target rows for the batch keys, a broadcast semi-join)
    # and post-images (the winners) form an invertible mini-CDF whose
    # signed delta advances the aggregate.
    maintain_stats: bool = False
    # opt-in SCD2 history table (operators/scd.py): every attribute
    # change of (commit, lang, content) becomes a validity interval,
    # advanced per epoch at O(delta) by historize_epoch's exactly-once
    # MERGE — the warehouse-facing audit twin of the LWW target.
    maintain_history: bool = False
    # opt-in incrementally-maintained denormalized JOIN view
    # (operators/ivm.py maintain_join): ``target ⋈ dim`` kept in
    # lock-step with the target WITHOUT recomputing the join — the
    # reference's read models (contacts→issues→resolutions joined per
    # list request) as a continuously-fresh table. Feed epochs advance
    # the R side (same synthesized pre/post mini-CDF as the stats);
    # dim changes arrive via :meth:`apply_dim_changes`. The dim must be
    # seeded once via :meth:`seed_dim` before the first epoch.
    maintain_view: bool = False
    # opt-in incrementally-maintained per-group top-k read model
    # (operators/ivm.py maintain_topk): the reference's paginated
    # ORDER BY … LIMIT list endpoints as a continuously-fresh table.
    # Group keys must be a prefix-subset of ``keys``; the ordering
    # measure is precomputed into the view as ``lb_val`` so the stored
    # buffer, the mini-CDF, and the back-fill all rank identically.
    maintain_leaderboard: bool = False
    # opt-in incrementally-maintained count-min frequency sketch
    # (operators/sketch.py maintain_cms): bounded-state "how often does
    # X occur in the current table" point queries without ever scanning
    # the target — the sketch is depth×width counters regardless of
    # table size, and the counters advance from the same invertible
    # mini-CDF as the stats (CM counters are additive, so the
    # maintained cells EXACTLY equal a rebuild over the post-epoch
    # state, deletes and updates included).
    # ``freq_item`` is a SQL expression over the key + payload attribute
    # columns (repo, path, commit, lang, content) — the mini-CDF
    # projects exactly those.
    maintain_freq: bool = False
    freq_width: int = 128
    # opt-in incrementally-maintained per-group uniform row sample — the
    # quantile read model that LIFTS sketch.maintain_qsample's
    # insert-only contract: ``maintain_topk`` ordered ASCENDING on the
    # portable hash of the full natural key.  "The k smallest key
    # hashes of the live rows" IS a deterministic uniform bottom-k
    # sample of the CURRENT table state (Cohen & Kaplan bottom-k
    # sampling with the hash as the randomness), and because it rides
    # maintain_topk's clean/dirty split it stays EXACT under updates
    # and deletes too: a deleted sampled key's replacement — the
    # unstored (k+1)-st smallest hash — back-fills from the logical
    # post-epoch state pruned to the dirtied groups.  Quantiles of
    # ``quantile_value`` read off the sample with rank error
    # O(1/sqrt(k)); state is k rows per group regardless of table size.
    maintain_quantiles: bool = False
    quantile_k: int = 64

    def __post_init__(self) -> None:
        # the CURRENT canonical feed schema — starts at the v1 contract
        # and is advanced by evolve_schema() when the producer evolves
        # (Iceberg ADD COLUMN / RENAME at the ingest edge)
        self.canonical = CHANGE_FEED_SCHEMA
        if self.target_mode == "cow":
            # target: hash-bucketed on the leading natural key → MERGE
            # only rewrites touched buckets (Iceberg bucket(N, repo)
            # analogue); buckets that outgrow max_bucket_bytes split
            # linear-hashing style so the bucket count tracks target
            # size as it grows 100x
            self.target = PartitionedLakeTable(
                self.spark,
                os.path.join(self.warehouse, "target"),
                bucket_keys=[self.keys[0]],
                n_buckets=self.n_buckets,
                max_bucket_bytes=self.max_bucket_bytes,
            )
        elif self.target_mode == "mor":
            self.target = MorLakeTable(
                self.spark,
                os.path.join(self.warehouse, "target"),
                keys=list(self.keys),
                lsn_col=self.lsn_col,
                compact_every=8,
            )
        else:
            raise ValueError(f"unknown target_mode {self.target_mode!r} (cow|mor)")
        # empty from open: the first pre-image probe plans like any other
        self.target.create(self.canonical)
        # conflicts/lineage are audit streams → append-only layout,
        # O(batch) writes, no rewrite of history
        self.conflicts = LakeTable(
            self.spark, os.path.join(self.warehouse, "conflicts"), append_only=True
        )
        self.lineage = LakeTable(
            self.spark, os.path.join(self.warehouse, "lineage"), append_only=True
        )

        def side_table(name: str, enabled: bool):
            return LakeTable(self.spark, os.path.join(self.warehouse, name)) if enabled else None

        self.stats = side_table("stats", self.maintain_stats)
        if self.maintain_history:
            # closed-versions append + open-versions snapshot: epoch
            # cost tracks the live key count, not accumulated history
            # (operators/scd.Scd2HistoryStore)
            from data_ingestion_resolution_platform_spark.operators.scd import (
                Scd2HistoryStore,
            )

            self.history = Scd2HistoryStore(
                self.spark, os.path.join(self.warehouse, "history"), list(self.keys)
            )
        else:
            self.history = None
        self.view = side_table("view", self.maintain_view)
        self.dim = side_table("dim", self.maintain_view)
        self.leaderboard = side_table("leaderboard", self.maintain_leaderboard)
        self.freq = side_table("freq", self.maintain_freq)
        self.qsample = side_table("qsample", self.maintain_quantiles)
        self.checkpoint = os.path.join(self.warehouse, "_checkpoint")

    # -- batch core (shared by streaming + bounded replay) ---------------
    def signature(self):
        return F.struct(F.col("lang"), content_sha256(F.col("content")).alias("sha"))

    def evolve_schema(self, add_fields=(), renames: dict | None = None) -> None:
        """Advance the canonical feed contract mid-stream (the north
        rule's schema-evolution clause; reference analogue: varying CSV
        headers projected onto one logical schema,
        `/root/reference/backend/worker.py:268,305-319`).

        ``add_fields`` is a sequence of ``(name, pyspark.sql.types
        .DataType)`` for columns the producer now sends (Iceberg ADD
        COLUMN: earlier target rows stay NULL — the MERGE's add-column
        path evolves the stored schema on the next epoch).  ``renames``
        maps feed-column → canonical-column for columns the producer
        renamed (Iceberg RENAME handled at the ingest edge so the
        stored name never changes).  Batches from BEFORE the evolution
        replay fine: reconcile_exprs NULL-backfills what they don't
        send, so resume-from-checkpoint across an evolution boundary is
        deterministic.
        """
        from pyspark.sql import types as T

        fields = list(self.canonical.fields)
        have = {f.name for f in fields}
        for name, dtype in add_fields:
            if name not in have:
                fields.append(T.StructField(name, dtype, True))
        self.canonical = T.StructType(fields)
        if renames:
            self.renames = {**self.renames, **renames}

    def process_batch(self, batch: DataFrame, epoch: int) -> dict:
        """One micro-batch = one reference ``process_job`` epoch.

        Heavy work is ONE fused aggregation over the batch
        (``resolve_and_detect``: winners + conflicts share the shuffle);
        lineage is a map-side partition scan; everything downstream
        reads the small persisted per-key aggregate.

        ONE fan-out (:func:`stage_then_commit`) runs the conflicts and
        lineage audit appends, every enabled maintained view (SCD2
        history included) from the shared :class:`EpochChange`, and the
        target MERGE, listed last. Each step writes only its own table
        under its own epoch ledger, so all of them compute at once; only
        the target's commit is gated behind every other step. The
        change-set and winners are released only after the fan-out has
        returned; the status row is the one write left after it.
        """
        if self.target.epoch_committed(epoch):
            return {"skipped": True, "epoch": epoch}
        import time as _time

        compiles = codegen_compiles(self.spark)
        phases: dict[str, float] = {}
        _t0 = _time.time()
        batch = reconcile_exprs(batch, self.canonical, self.renames)
        # deliberately NOT persisted: each consumer (fused agg, winner
        # semi-join, lineage) reads a column-pruned scan of the source;
        # caching full rows costs more than the re-scans save (measured)
        resolved = resolve_and_detect(
            batch,
            list(self.keys),
            self.signature(),
            self.lsn_col,
            candidate_cols=["commit", "lang"],
            max_candidates=10,
            wide_cols=["content"],
        )
        # the winners feed every view and the target MERGE: one
        # evaluation of the source semi-join + dropDuplicates per epoch
        winners = resolved.winners.persist()
        try:
            # fill the winners cache (and the per-key aggregate under it)
            # before the fan-out. Left to the steps, two that plan over
            # the unfilled cache at once each submit their own AQE fill
            # job, so the epoch's job count varied from run to run; a
            # noop write fills it without a count's extra result stage.
            winners.write.format("noop").mode("overwrite").save()
            conflicts = resolved.conflicts.withColumn(
                "epoch", F.lit(epoch).cast("long")
            )
            lin = lineage_rows(batch, epoch, self.lsn_col)
            n_conf = 0

            def audit_conflicts() -> None:
                nonlocal n_conf
                # A7/M7 status input: the appended frame holds one row
                # per conflicted key, so an observed count(1) on its own
                # write counts them with no job of its own
                if self.conflicts.epoch_committed(f"c{epoch}"):
                    # a retry after the target commit failed: the append
                    # is a no-op, so no action would fill an observation
                    n_conf = resolved.conflict_key_count()
                    return
                seen = Observation()
                self.conflicts.append(
                    conflicts.observe(seen, F.count(F.lit(1)).alias("n")), f"c{epoch}"
                )
                n_conf = seen.get["n"]

            # write order: audit data and views first, target + its
            # ledger marker last (a crash in between leaves an
            # uncommitted epoch that replays idempotently; every other
            # step is ledger-guarded too). Only the COMMIT is ordered:
            # the audit appends, the views and the target MERGE's
            # residue fill and staging write read nothing of each
            # other's output, so they all run at once. The target's staged files stay invisible until its
            # gated commit, so the views read their pre-images from the
            # pre-merge target; and if some view MERGEs commit but
            # another step fails, the target does not commit, so
            # redelivery skips the committed views' epochs (their own
            # ledgers) and re-runs the rest from the same deterministic
            # winners. The reverse order would strand the views forever
            # behind the target's committed-epoch early return. Every
            # view advances from the ONE change-set, so the target is
            # probed once per epoch, not once per view.
            stats = self._fan_out(
                batch,
                winners,
                epoch,
                epoch,
                [audit_conflicts, partial(self.lineage.append, lin, f"l{epoch}", 1)],
            )
            phases["stage_commit"] = _time.time() - _t0
            _t0 = _time.time()
            # A7/M7 status decision (reference `worker.py:404-411`):
            # conflicts ⇒ NEEDS_REVIEW, else COMPLETED.
            status = "NEEDS_REVIEW" if n_conf else "COMPLETED"
            self.lineage.append(
                epoch_summary(self.spark, epoch, status, n_conf), f"s{epoch}", 1
            )
            phases["status"] = _time.time() - _t0
            stats["status"] = status
            stats["conflicts"] = n_conf
            stats["phase_seconds"] = {k: round(v, 3) for k, v in phases.items()}
            stats["codegen_compiles"] = codegen_compiles(self.spark) - compiles
        except Exception:
            # poison-pill guard (`worker.py:413-415,445-457`): record a
            # FAILED epoch row best-effort, then surface the error so
            # the checkpoint does NOT advance (at-least-once redelivery).
            # Written UNledgered (epoch_id=None → attempt-unique subdir):
            # a ledgered s{epoch} id here would make the later successful
            # retry's COMPLETED/NEEDS_REVIEW summary a silent no-op and
            # freeze the status history at FAILED. Consumers read status
            # via lineage.status_history (terminal state wins per epoch).
            try:
                self.lineage.append(
                    epoch_summary(self.spark, epoch, "FAILED", 0), None, 1
                )
            except Exception:
                pass
            raise
        finally:
            winners.unpersist()
            resolved.unpersist()
        return stats

    def _fan_out(self, batch, winners, epoch_id, view_epoch, steps=()) -> dict:
        """:func:`stage_then_commit` of ``steps``, every enabled view's
        ``advance(change, view_epoch)`` from one :class:`EpochChange`, and
        the target MERGE of ``winners`` under ``epoch_id``."""
        advancers = self._view_advancers()
        change = EpochChange(self.target, batch, winners, self.keys) if advancers else None
        try:
            return stage_then_commit(
                self.spark,
                [*steps, *(partial(advance, change, view_epoch) for advance in advancers)],
                partial(
                    self.target.merge,
                    winners.withColumn(DELETE_COL, F.col("op") == "D"),
                    list(self.keys),
                    epoch_id=epoch_id,
                ),
            )
        finally:
            if change is not None:
                change.release()

    def _view_advancers(self) -> list:
        """The enabled maintained views' per-epoch advance steps, each
        ``advance(change, epoch)``, in the order ``process_batch`` and
        ``bootstrap`` submit them (and re-raise their failures)."""
        from data_ingestion_resolution_platform_spark.operators.sketch import kmv_hash

        leaderboard = partial(
            self._maintain_topk,
            table=self.leaderboard,
            group_keys=self.leaderboard_keys,
            order="lb_val",
            cols=lambda: [F.expr(self.leaderboard_order).cast("long").alias("lb_val")],
            k=self.leaderboard_k,
            prefix="t",
            descending=True,
        )
        # bottom-k on the portable hash of the FULL natural key (unit-
        # separator joined, so the composite is unambiguous): a uniform
        # sample of the live rows, carrying the quantile measure
        quantiles = partial(
            self._maintain_topk,
            table=self.qsample,
            group_keys=self.quantile_keys,
            order="qs_h",
            cols=lambda: [
                kmv_hash(F.concat_ws("\x1f", *self.keys)).alias("qs_h"),
                F.expr(self.quantile_value).cast("long").alias("qs_val"),
            ],
            k=self.quantile_k,
            prefix="q",
            descending=False,
        )
        return [
            advance
            for table, advance in (
                (self.stats, self._maintain_stats),
                (self.view, self._maintain_view),
                (self.leaderboard, leaderboard),
                (self.freq, self._maintain_freq),
                (self.qsample, quantiles),
                (self.history, self._maintain_history),
            )
            if table is not None
        ]

    def _maintain_history(self, change: "EpochChange", epoch: int) -> None:
        """Advance the SCD2 history from the RAW batch (every event is a
        potential version boundary, not just winners) — O(delta) epoch
        apply, own ledger ⇒ convergent retries."""
        from data_ingestion_resolution_platform_spark.operators.scd import historize_epoch

        historize_epoch(
            self.history,
            change.batch,
            list(self.keys),
            self.lsn_col,
            list(self.history_attrs),
            f"h{epoch}",
        )

    def _maintain_stats(self, change: "EpochChange", epoch: int) -> None:
        """Advance the maintained per-``stats_keys`` aggregate (row
        count + content bytes) by this epoch's delta: the signed
        pre/post mini-CDF of :class:`EpochChange` — unchanged
        re-deliveries cancel exactly (-x + x = 0)."""
        from data_ingestion_resolution_platform_spark.operators.ivm import (
            maintain_aggregate,
        )

        maintain_aggregate(
            self.stats,
            change.changes([*self.keys, "lang", "content"]),
            list(self.stats_keys),
            {"total_bytes": "length(content)"},
            epoch_id=f"m{epoch}",
            count_alias="n_paths",
        )

    def _maintain_freq(self, change: "EpochChange", epoch: int) -> None:
        """Advance the maintained count-min cells by this epoch's delta
        (``operators/sketch.py maintain_cms``). Only the epoch's delta
        ever shuffles — ≤ depth·|batch| exploded rows combining to
        ≤ depth·width cells."""
        from data_ingestion_resolution_platform_spark.operators.sketch import (
            maintain_cms,
        )

        maintain_cms(
            self.freq,
            change.changes([*self.keys, "commit", "lang", "content"]),
            self.freq_item,
            depth=self.freq_depth,
            width=self.freq_width,
            epoch_id=f"f{epoch}",
        )

    def seed_dim(self, dim: DataFrame, epoch_id: str = "dim_seed") -> dict:
        """Install the initial dimension snapshot (PK
        ``view_join_key``). Must run before the first maintained-view
        epoch; its own ledger makes re-seeding a no-op."""
        if self.dim is None:
            raise ValueError("seed_dim requires maintain_view=True")
        return self.dim.merge(dim, [self.view_join_key], epoch_id=epoch_id)

    def _maintain_view(self, change: "EpochChange", epoch: int) -> None:
        """Advance the maintained ``target ⋈ dim`` view by this feed
        epoch's R-side delta (ΔS is empty here; dim changes arrive via
        :meth:`apply_dim_changes`). ``maintain_join`` broadcasts the
        delta against the dim, so epoch cost is O(|batch|). With ΔS
        empty, R₀ ⋈ ΔS is empty too, so R₀ is passed empty, for its
        columns only: the view takes no target snapshot of its own."""
        from data_ingestion_resolution_platform_spark.operators.ivm import maintain_join

        if not self.dim.exists():
            raise ValueError(
                "maintain_view=True but the dim table is unseeded — call seed_dim() first"
            )
        r_changes = change.changes([*self.keys, *self.view_attrs])
        s_before = self.dim.read()
        s_changes = s_before.limit(0).withColumn(CHANGE_COL, F.lit(INSERT))
        maintain_join(
            self.view,
            r_changes,
            s_changes,
            r_before=r_changes.drop(CHANGE_COL).limit(0),
            s_before=s_before,
            join_keys=[self.view_join_key],
            out_keys=list(self.keys),
            epoch_id=f"v{epoch}",
        )

    def _maintain_topk(
        self, change: "EpochChange", epoch, *, table, group_keys, order, cols, k, prefix, descending
    ) -> None:
        """Advance a maintained per-``group_keys`` top-k view by this
        epoch's delta (``operators/ivm.py maintain_topk``), with the
        change-set's lazy logical post-epoch state as back-fill base.
        ``cols()`` builds aliased expressions over the key + payload
        columns (so pre-images from the target and post-images from the
        winners project identically); ``order`` names the one that
        ranks. Bound twice by :meth:`_view_advancers`: the leaderboard
        (descending on ``lb_val``) and the quantile sample (ascending on
        the key hash ``qs_h`` — "the k live rows with the smallest
        sampling hashes", an exact bottom-k sample of the post-epoch
        table that stays exact under updates and deletes)."""
        from data_ingestion_resolution_platform_spark.operators.ivm import maintain_topk

        gk = list(group_keys)
        rk = [c for c in self.keys if c not in set(gk)]
        proj = [*gk, *rk, *cols()]
        maintain_topk(
            table,
            change.changes(proj),
            change.base_after.select(*proj),
            gk,
            rk,
            order,
            k=k,
            epoch_id=f"{prefix}{epoch}",
            descending=descending,
        )

    def apply_dim_changes(self, s_changes: DataFrame, epoch_id: str | int) -> dict:
        """Advance the maintained view by a DIMENSION change epoch (an
        invertible :func:`sources.lake.snapshot_diff` feed over the dim:
        inserts backfill existing target rows into the view, deletes
        cascade every joined row out, attribute updates rewrite them),
        then upsert the changes into the stored dim.

        Order matters for crash-retry convergence: the view MERGE (its
        own ledger) commits first; if the subsequent dim MERGE fails,
        redelivery skips the view epoch and re-applies only the dim.
        The R₀ ⋈ ΔS term broadcasts ΔS against a target scan — with
        the target hash-bucketed on ``view_join_key``'s leading column
        the broadcast doubles as a runtime filter, so touched buckets
        only."""
        if self.view is None:
            raise ValueError("apply_dim_changes requires maintain_view=True")
        from data_ingestion_resolution_platform_spark.operators.ivm import maintain_join
        from data_ingestion_resolution_platform_spark.sources.lake import apply_changelog

        key_list = list(self.keys)
        if not (self.target.exists() or self.view.exists()):
            raise ValueError("apply_dim_changes before any target state exists")
        r_before = self.target.read().select(*key_list, *self.view_attrs)
        r_changes = r_before.limit(0).withColumn(CHANGE_COL, F.lit(INSERT))
        out = maintain_join(
            self.view,
            r_changes,
            s_changes,
            r_before=r_before,
            s_before=self.dim.read(),
            join_keys=[self.view_join_key],
            out_keys=key_list,
            epoch_id=f"d{epoch_id}",
        )
        # the view delta needs the invertible (preimage-bearing) feed,
        # but the stored dim upsert must be key-unique — preimage rows
        # would land as duplicate keys in the MERGE batch
        apply_changelog(
            self.dim,
            s_changes.filter(F.col(CHANGE_COL) != PREIMAGE),
            [self.view_join_key],
            epoch_id=f"dim_{epoch_id}",
        )
        return out

    def bootstrap(self, snapshot: DataFrame, watermark_lsn: int, epoch_id: str = "bootstrap") -> dict:
        """Snapshot → streaming handoff (the Debezium initial-load
        pattern; extends M4/M5 to a non-empty starting state).

        Seed the target from a consistent source snapshot taken at
        ``watermark_lsn``, then tail the feed STRICTLY AFTER the
        watermark (``feed.filter(lsn > watermark)`` — the caller's
        replay contract): no prefix event is ever double-applied, no
        post-watermark event is missed. Snapshot rows enter as
        synthetic inserts stamped with the watermark LSN; the bootstrap
        is its own ledgered epoch, so a crashed or redelivered
        bootstrap is a no-op. ``snapshot`` must be key-unique (it is a
        table snapshot) and carry the feed's payload columns minus
        (op, lsn).

        At 10^10 events this is the only sane cold-start: replaying
        the full history through the resolver costs O(history), the
        snapshot MERGE costs O(|table|) once.

        Maintained side tables are seeded by the same view steps as a
        feed epoch: a snapshot is an insert-only epoch, advanced into
        every enabled view from one :class:`EpochChange` on
        :func:`stage_then_commit`, under the ledger ids ``m_``, ``h_``,
        ``t_``, ``q_``, ``f_`` and ``v_`` + ``epoch_id`` (the SCD2
        history opens each snapshot key's version at the watermark).
        As in ``process_batch``, the target merge stages beside the
        seeds and its commit waits for all of them (the change-set is
        valid until that gated commit), so a failed seed leaves the
        target uncommitted and a re-run skips the seeds that committed
        and converges. A bootstrap onto an already-populated target
        retracts that target's rows for the snapshot keys like any
        other epoch.

        It compiles the plans the first feed epoch runs: the tables are
        empty, not absent, and the snapshot takes the shape of a
        :meth:`run_stream` micro-batch's winners (the canonical columns,
        all nullable as a file source reads them), persisted and filled
        before the fan-out as ``process_batch``'s winners are.
        """
        if self.target.epoch_committed(epoch_id):
            return {"skipped": True, "epoch": epoch_id}
        stamped = reconcile_exprs(
            snapshot.withColumns(
                {"op": F.lit("I"), self.lsn_col: F.lit(watermark_lsn).cast("long")}
            ),
            self.canonical,
            self.renames,
        )
        # a condition the optimizer cannot fold makes the literal stamps
        # nullable: generated code differs on nullability
        always = F.spark_partition_id() >= 0
        winners = stamped.select(*[F.when(always, F.col(c)).alias(c) for c in stamped.columns])
        winners = winners.persist()
        try:
            winners.write.format("noop").mode("overwrite").save()
            return self._fan_out(winners, winners, epoch_id, f"_{epoch_id}")
        finally:
            winners.unpersist()

    # -- streaming entry --------------------------------------------------
    def run_stream(self, available_now: bool = True, trigger_seconds: float | None = None):
        """Tail the feed directory as a parquet file stream.

        ``available_now=True`` processes the backlog then stops —
        bounded replay with full checkpoint semantics (resume picks up
        exactly where the last committed offset left off).
        """
        stream = (
            self.spark.readStream.schema(CHANGE_FEED_SCHEMA)
            .option("maxFilesPerTrigger", 8)
            .parquet(self.feed_dir)
        )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.process_batch(batch_df, batch_id)

        writer = stream.writeStream.foreachBatch(sink).option(
            "checkpointLocation", self.checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    def replay_bounded(self, feed: DataFrame, epochs: int, epoch_offset: int = 0) -> list[dict]:
        """Batch-mode replay: split a bounded feed into ``epochs``
        LSN-ranged micro-batches and run the same batch core. Used by
        bench (throughput) and tests (replay equivalence)."""
        bounds = feed.agg(F.min(self.lsn_col), F.max(self.lsn_col)).first()
        lo, hi = bounds[0], bounds[1]
        span = (hi - lo + 1) // epochs or 1
        out = []
        for i in range(epochs):
            a = lo + i * span
            b = hi + 1 if i == epochs - 1 else lo + (i + 1) * span
            chunk = feed.filter((F.col(self.lsn_col) >= a) & (F.col(self.lsn_col) < b))
            out.append(self.process_batch(chunk, epoch_offset + i))
        return out
