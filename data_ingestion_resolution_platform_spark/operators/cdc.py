"""CDC resolution operators — the reference worker's dataflow, Spark-first.

Re-expresses ``/root/reference/backend/worker.py`` (the row-at-a-time
ingest worker) as declarative DataFrame plans:

- per-group winner selection (A4/A5/W1: ``rlist[0]`` / chosen-row logic,
  `worker.py:214-216`, `main.py:181-190`) → ``resolve_latest`` /
  ``resolve_first`` / ``resolve_with_choices`` — window or two-phase
  ``max_by`` aggregation (skew-safe).
- conflict detection (A2/A3: distinct identity signatures per natural
  key, `worker.py:376-392`) → ``detect_conflicts``.
- change application (M1-M6: upsert/tombstone semantics,
  `main.py:225-243`) → ``apply_changes`` (I/U/D ops + LWW by LSN).

Scale notes (100 TB / 10^10 events):
- Winner selection avoids a global window: a ``max_by`` hash
  aggregation does map-side partial aggregation (per input partition)
  before the shuffle, so a hot key never concentrates its raw rows on
  one reducer; ``strategy="salted"`` adds an explicit (key, salt)
  two-phase on top. A ``row_number`` window would shuffle *all* rows
  of a key to one task first.
- Conflict candidate lists are computed only for conflicted keys and
  always through the two-phase ``bounded_candidates`` plan — reducer
  state is capped at ``n_salt × max_candidates`` rows per key no
  matter how hot the key.
- Wide payloads ride inside the ``max_by`` struct, so only one payload
  per (key, partial) survives the shuffle — the "project early,
  re-join content for winners" guard from SURVEY.md §7.4 is built in.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.functions.normalize import (
    clean_field,
    identity_signature,
    normalize_email,
    validation_issues,
)

_ORD = "__ord"
_PAYLOAD = "__payload"


def _ordering_struct(lsn_col: str, tie_breakers: Sequence[str], ascending: bool) -> Column:
    """Lexicographic ordering key as a struct column.

    Struct comparison in Spark is field-by-field, so ``max_by`` /
    ``min_by`` over this struct equals ORDER BY lsn, *tie_breakers.
    """
    cols = [F.col(lsn_col)] + [F.col(t) for t in tie_breakers]
    return F.struct(*cols)


def resolve_latest(
    df: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    tie_breakers: Sequence[str] = (),
    strategy: str = "agg",
    n_salt: int = 16,
) -> DataFrame:
    """Last-writer-wins: one row per key, the max-(lsn, ties) row.

    ``strategy`` names the physical plan honestly (all three produce
    identical results):

    - ``"agg"`` (default): single ``max_by`` hash aggregation. Spark's
      map-side partial aggregation compacts each input partition to one
      candidate per key before the shuffle, so a hot key's reducer sees
      at most one row per input partition — sufficient for pure LWW.
    - ``"salted"``: explicit two-phase via :func:`skew.salted_latest` —
      phase 1 aggregates per (key, salt), phase 2 merges ≤ ``n_salt``
      partials per key. Use when partial aggregation is disabled or the
      per-partition candidate fan-in itself is a concern.
    - ``"window"``: ``row_number`` window — shuffles *all* rows of a key
      to one task; kept for plan comparison tests only.
    """
    payload_cols = [c for c in df.columns]
    if strategy == "salted":
        from data_ingestion_resolution_platform_spark.operators.skew import salted_latest

        return salted_latest(df, keys, lsn_col, n_salt=n_salt, tie_breakers=tie_breakers)
    ordering = _ordering_struct(lsn_col, tie_breakers, ascending=False)
    staged = df.withColumn(_PAYLOAD, F.struct(*[F.col(c) for c in payload_cols])).withColumn(
        _ORD, ordering
    )
    if strategy == "agg":
        winners = staged.groupBy(*keys).agg(F.max_by(_PAYLOAD, _ORD).alias(_PAYLOAD))
    elif strategy == "window":
        w = Window.partitionBy(*keys).orderBy(
            F.col(lsn_col).desc(), *[F.col(t).desc() for t in tie_breakers]
        )
        winners = (
            staged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*keys, _PAYLOAD)
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r} (agg|salted|window)")
    return winners.select(*[F.col(f"{_PAYLOAD}.{c}").alias(c) for c in payload_cols])


def resolve_first(
    df: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """First-writer-wins (the reference's ``rlist[0]`` pick,
    `worker.py:214-216`): min-(lsn, ties) row per key via ``min_by``."""
    payload_cols = [c for c in df.columns]
    ordering = _ordering_struct(lsn_col, tie_breakers, ascending=True)
    staged = df.withColumn(_PAYLOAD, F.struct(*[F.col(c) for c in payload_cols])).withColumn(
        _ORD, ordering
    )
    winners = staged.groupBy(*keys).agg(F.min_by(_PAYLOAD, _ORD).alias(_PAYLOAD))
    return winners.select(*[F.col(f"{_PAYLOAD}.{c}").alias(c) for c in payload_cols])


def resolve_with_choices(
    df: DataFrame,
    choices: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    choice_lsn_col: str = "chosen_lsn",
) -> DataFrame:
    """A5 (`main.py:168-190`): user-chosen winner overrides the default.

    ``choices`` maps key → chosen ``lsn``; rows matching a choice get
    priority 1, everything else 0, and the winner is max_by(priority,
    lsn). Choices are small (human-resolved) ⇒ broadcast join.
    """
    ch = choices.select(*keys, F.col(choice_lsn_col))
    joined = df.join(F.broadcast(ch), on=list(keys), how="left")
    prio = F.when(F.col(lsn_col) == F.col(choice_lsn_col), F.lit(1)).otherwise(F.lit(0))
    staged = joined.withColumn("__prio", prio).drop(choice_lsn_col)
    payload_cols = [c for c in df.columns]
    ordered = staged.withColumn(
        _PAYLOAD, F.struct(*[F.col(c) for c in payload_cols])
    ).withColumn(_ORD, F.struct(F.col("__prio"), F.col(lsn_col)))
    winners = ordered.groupBy(*keys).agg(F.max_by(_PAYLOAD, _ORD).alias(_PAYLOAD))
    return winners.select(*[F.col(f"{_PAYLOAD}.{c}").alias(c) for c in payload_cols])


def bounded_candidates(
    df: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    candidate_cols: Sequence[str] = (),
    max_candidates: int = 20,
    n_salt: int = 16,
) -> DataFrame:
    """Exact top-``max_candidates``-by-(lsn, candidate_cols) per key with
    BOUNDED aggregation state — the A3 scale guard done right.

    Two-phase explicit salt (`skew.with_salt` on ``xxhash64(lsn)``):
    phase 1 collects + slices per (key, salt) — a hot key's rows spread
    over ``n_salt`` reducers, each materializing at most its salt share;
    phase 2 merges ≤ ``n_salt`` pre-sliced partials (≤ ``n_salt ×
    max_candidates`` rows per key, the hard reducer-state bound) and
    re-slices. Top-k of per-salt top-ks is exact: any global top-k row
    is in its own salt's top-k (same total struct ordering both phases).
    A single-phase ``slice(sort_array(collect_list(...)))`` — the shape
    the reference's `worker.py:382-390` payload collection implies —
    would materialize *every* row of a 10^7-event hot key on one reducer
    before truncating.
    """
    from data_ingestion_resolution_platform_spark.operators.skew import SALT_COL, with_salt

    cand_struct = F.struct(
        F.col(lsn_col).alias("lsn"), *[F.col(c) for c in candidate_cols]
    )
    salted = with_salt(df, n_salt, entropy=F.xxhash64(F.col(lsn_col)))
    partial = salted.groupBy(*keys, SALT_COL).agg(
        F.slice(
            F.sort_array(F.collect_list(cand_struct), asc=False), 1, max_candidates
        ).alias("__cands")
    )
    return partial.groupBy(*keys).agg(
        F.slice(
            F.sort_array(F.flatten(F.collect_list("__cands")), asc=False),
            1,
            max_candidates,
        ).alias("candidates")
    )


def detect_conflicts(
    df: DataFrame,
    keys: Sequence[str],
    signature: Column,
    lsn_col: str,
    candidate_cols: Sequence[str] = (),
    max_candidates: int = 20,
    n_salt: int = 16,
    include_candidates: bool = True,
) -> DataFrame:
    """A2/A3 (`worker.py:376-392`): keys whose rows disagree on identity.

    Emits one row per conflicted key with ``n_signatures`` and a
    bounded candidate list (top-``max_candidates`` by LSN — the scale
    guard the reference lacks: its payload collected *every* row).
    Output: keys..., n_signatures, n_rows, candidates(array<struct>).

    Candidate lists are only needed for *conflicted* keys (a small set
    by definition), so the main aggregation carries no per-row state:
    ``collect_set`` of distinct signatures + count only. Candidates are
    then computed over the conflicted subset (semi-join) with the
    two-phase bounded :func:`bounded_candidates` plan.
    """
    sig_df = df.withColumn("__sig", signature)
    # NOT countDistinct: mixing a distinct aggregate with plain ones
    # makes Catalyst insert an Expand (every input row duplicated through
    # the shuffle — measured 2-6x slower on wide CDC batches).
    # collect_set is a single-pass exact distinct, bounded by the number
    # of distinct signatures per key.
    agg = sig_df.groupBy(*keys).agg(
        F.size(F.collect_set("__sig")).alias("n_signatures"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    conflicted = agg.filter(F.col("n_signatures") > 1)
    if not include_candidates:
        # detection-only callers skip the candidate semi-join + two-phase
        # aggregation entirely (2 fewer shuffles over the full input)
        return conflicted
    cand_input = df.join(conflicted.select(*keys), on=list(keys), how="left_semi")
    cands = bounded_candidates(
        cand_input, keys, lsn_col, candidate_cols, max_candidates, n_salt
    )
    return conflicted.join(cands, on=list(keys), how="inner")


class ResolvedBatch:
    """Winners + conflicts computed by ONE shared aggregation.

    ``agg`` is the persisted per-key aggregate (small: one row per
    distinct key in the batch); ``winners`` and ``conflicts`` are cheap
    projections of it. Call :meth:`unpersist` when both consumers have
    executed.
    """

    def __init__(self, agg: DataFrame, winners: DataFrame, conflicts: DataFrame):
        self._agg = agg
        self.winners = winners
        self.conflicts = conflicts

    def conflict_key_count(self) -> int:
        """Number of conflicted keys, read straight from the persisted
        per-key aggregate — unlike ``conflicts.count()`` this never
        re-executes the candidate semi-join/aggregation. Two jobs of
        its own: ``CDCPipeline.process_batch`` observes the count on the
        conflicts append instead, and calls this only on a retry whose
        conflicts append had already committed (nothing left to
        observe)."""
        return self._agg.filter(F.col("n_signatures") > 1).count()

    def unpersist(self) -> None:
        self._agg.unpersist()


def resolve_and_detect(
    df: DataFrame,
    keys: Sequence[str],
    signature: Column,
    lsn_col: str,
    tie_breakers: Sequence[str] = (),
    candidate_cols: Sequence[str] = (),
    max_candidates: int = 20,
    wide_cols: Sequence[str] = (),
    n_salt: int = 16,
) -> ResolvedBatch:
    """Fused LWW winner selection + conflict detection — one main shuffle.

    ``resolve_latest`` and ``detect_conflicts`` each group by the same
    natural key; running them separately scans and shuffles the full
    batch twice. This fuses them into a single hash aggregation whose
    per-key state is strictly BOUNDED (max_by = 1 payload, collect_set =
    distinct signatures, count = scalar — no per-row candidate list),
    persists the per-key result (tiny relative to the batch), and serves
    both outputs from it. At 10^10 events this halves the dominant
    shuffle and keeps a 10^7-event hot key from materializing its rows
    on any single reducer.

    Candidate lists exist only for *conflicted* keys, so they are
    computed on the conflicted subset (semi-join against the persisted
    per-key aggregate, narrow columns only) via the two-phase salted
    :func:`bounded_candidates` plan — reducer state ≤ ``n_salt ×
    max_candidates`` rows per key by construction.

    ``wide_cols`` (SURVEY.md §7.4 "project early, re-join content for
    winners"): columns excluded from the shuffled payload — e.g. file
    ``content``. The signature still sees them (computed pre-drop), but
    only narrow columns ride through the aggregation; winner rows are
    then recovered by a semi-join of the original batch on
    (keys, winning lsn). Duplicate deliveries of the winning (key, lsn)
    row — a normal at-least-once CDC condition — are collapsed with a
    ``dropDuplicates`` on the small winner set so ``merge()``'s
    key-unique precondition holds. With KB-sized contents this shrinks
    shuffle volume by orders of magnitude; Catalyst/AQE picks broadcast
    for the winner-key side when it is small.
    """
    payload_cols = list(df.columns)
    wide = [c for c in wide_cols if c in payload_cols]
    narrow_payload = [c for c in payload_cols if c not in wide]
    ordering = _ordering_struct(lsn_col, tie_breakers, ascending=False)
    staged = (
        df.withColumn("__sig", signature)
        .withColumn(_PAYLOAD, F.struct(*[F.col(c) for c in narrow_payload]))
        .withColumn(_ORD, ordering)
        .select(*keys, _PAYLOAD, _ORD, "__sig")
    )
    agg = (
        staged.groupBy(*keys)
        .agg(
            F.max_by(_PAYLOAD, _ORD).alias(_PAYLOAD),
            F.size(F.collect_set("__sig")).alias("n_signatures"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .persist()
    )
    if wide:
        winner_keys = agg.select(
            *keys, F.col(f"{_PAYLOAD}.{lsn_col}").alias(lsn_col)
        )
        winners = (
            df.join(winner_keys, on=[*keys, lsn_col], how="left_semi")
            .select(*payload_cols)
            .dropDuplicates([*keys, lsn_col])
        )
    else:
        winners = agg.select(
            *[F.col(f"{_PAYLOAD}.{c}").alias(c) for c in payload_cols]
        )
    conflicted = agg.filter(F.col("n_signatures") > 1).select(
        *keys, "n_signatures", "n_rows"
    )
    cand_input = df.select(*keys, lsn_col, *candidate_cols).join(
        conflicted.select(*keys), on=list(keys), how="left_semi"
    )
    cands = bounded_candidates(
        cand_input, keys, lsn_col, candidate_cols, max_candidates, n_salt
    )
    conflicts = conflicted.join(cands, on=list(keys), how="inner")
    return ResolvedBatch(agg, winners, conflicts)


def apply_changes(
    changes: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """M1-M6: collapse an I/U/D change feed to final table state.

    Winner per key = last writer by LSN; a winning delete tombstones
    the key (`main.py:225-243` skip ⇒ excluded from final output).
    Idempotent by construction: replaying the same feed yields the
    same state.
    """
    winners = resolve_latest(changes, keys, lsn_col, tie_breakers=tie_breakers)
    return winners.filter(F.col("op") != F.lit("D"))


def apply_patches(
    changes: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Partial-image CDC (Debezium-style patch events) → final state.

    Extends :func:`apply_changes` (M1-M6, full-image rows) to feeds
    where an ``'U'`` event carries only the columns it changes (others
    NULL). Semantics per key, by LSN order:

    - ``'I'`` = full image: every column resets to the I row's value
      (an explicit NULL in an I is a real NULL).
    - ``'U'`` = patch: non-NULL columns overwrite, NULLs leave the
      prior value.
    - ``'D'`` = tombstone: wipes the key; later I/U events re-create it
      (U-after-D builds a partial row over an empty base).

    ONE hash aggregation (map-side partials, no window, no ordered
    fold): per column ``c`` we take the last non-NULL setter as a
    ``(lsn, value)`` pair via ``max_by``, alongside the last-I / last-D
    barrier LSNs, then a post-projection NULLs any setter that precedes
    the barrier. Equivalent to the ordered replay (proof: the last
    setter overall has the max setter LSN, so it is post-barrier iff
    any post-barrier setter exists). Reducer state is O(columns) per
    key regardless of key heat — safe for 10^10-event feeds with hot
    keys.

    Reference parity: ``main.py:225-243`` applies resolution edits as
    per-field patches onto the stored row; this is that semantic lifted
    to the change-feed scale. Output: keys + ``value_cols`` +
    ``lsn`` (= last surviving I/U LSN); tombstoned keys are absent.
    """
    lsn = F.col(lsn_col)
    op = F.col("op")
    aggs = [
        F.max(F.when(op == "D", lsn)).alias("__last_d"),
        F.max(F.when(op == "I", lsn)).alias("__last_i"),
        F.max(F.when(op != "D", lsn)).alias("__last_ui"),
    ]
    for c in value_cols:
        setter = F.when(F.col(c).isNotNull() & (op != "D"), lsn)
        aggs.append(
            F.max_by(F.struct(lsn.alias("l"), F.col(c).alias("v")), setter).alias(
                f"__p_{c}"
            )
        )
    g = changes.groupBy(*[F.col(k) for k in keys]).agg(*aggs)

    # NULL-aware barriers ("never happened" = NULL, not a sentinel): a
    # feed with negative LSNs — valid in e.g. signed logical clocks —
    # must not confuse a real event at lsn=-1 with absence.
    last_d = F.col("__last_d")
    last_i = F.col("__last_i")
    last_ui = F.col("__last_ui")
    alive = last_ui.isNotNull() & (last_d.isNull() | (last_ui > last_d))
    out_cols: list[Column] = [F.col(k) for k in keys]
    out_cols.append(last_ui.alias("lsn"))
    for c in value_cols:
        p = F.col(f"__p_{c}")
        after_d = last_d.isNull() | (p["l"] > last_d)
        after_i = last_i.isNull() | (p["l"] >= last_i)
        out_cols.append(
            F.when(p["l"].isNotNull() & after_d & after_i, p["v"]).alias(c)
        )
    return g.filter(alive).select(*out_cols)


def merge_conflict_state(
    table,
    detected: DataFrame,
    resolutions: DataFrame | None,
    keys: Sequence[str],
    epoch: int,
    epoch_id: str | int | None = None,
) -> dict:
    """Materialized open-conflict state as a MERGE-keyed table — the
    reference's conflict upsert + don't-reopen-resolved rules
    (`worker.py:108-110,124-127`, M1-M3) applied as ONE MERGE per epoch,
    so "what is open right now" is a plain filtered read of current
    state instead of a latest-per-key scan over an ever-growing append
    log.

    Per epoch:
    - detection of an untracked key      ⇒ INSERT as ``OPEN``
    - re-detection of an ``OPEN`` key    ⇒ UPDATE (payload refresh)
    - re-detection of a ``RESOLVED`` key ⇒ ignored (don't reopen)
    - resolution                         ⇒ UPDATE to ``RESOLVED``
      (kept, not deleted — the tombstone-free row IS the memory that
      makes don't-reopen durable; wins over same-epoch re-detection)

    Scale shape: the epoch's detected/resolved sets are small by
    definition; the only join against the (potentially large) state
    table is a left-anti on its key-projected RESOLVED subset —
    columns pruned at the scan, AQE picks the build side. Exactly-once
    via the table's epoch ledger like every other MERGE.
    """
    det = detected.withColumn("status", F.lit("OPEN")).withColumn(
        "epoch", F.lit(epoch).cast("long")
    )
    if resolutions is not None:
        res_keys = resolutions.select(*keys).distinct()
        det = det.join(F.broadcast(res_keys), on=list(keys), how="left_anti")
        res_rows = res_keys.withColumn("status", F.lit("RESOLVED")).withColumn(
            "epoch", F.lit(epoch).cast("long")
        )
        batch = det.unionByName(res_rows, allowMissingColumns=True)
    else:
        batch = det
    if table.exists():
        already_resolved = (
            table.read().filter(F.col("status") == "RESOLVED").select(*keys)
        )
        batch = batch.filter(F.col("status") == "RESOLVED").unionByName(
            batch.filter(F.col("status") == "OPEN").join(
                already_resolved, on=list(keys), how="left_anti"
            )
        )
    return table.merge(batch, keys, epoch_id=epoch_id)


def normalize_contacts(df: DataFrame) -> DataFrame:
    """The reference's per-row pipeline (P1-P6, `worker.py:286-374`) as
    one projection: adds normalized/cleaned columns, identity signature,
    and the per-row issue array. Input: email/first_name/last_name/
    company (+ passthrough columns)."""
    out = df.withColumns(
        {
            "normalized_email": normalize_email(F.col("email")),
            "first_name_clean": clean_field(F.col("first_name")),
            "last_name_clean": clean_field(F.col("last_name")),
            "company_clean": clean_field(F.col("company")),
        }
    )
    out = out.withColumns(
        {
            "signature": identity_signature(
                F.col("first_name"), F.col("last_name"), F.col("company")
            ),
            "issues": validation_issues(
                F.col("normalized_email"),
                F.col("first_name"),
                F.col("last_name"),
                F.col("company"),
            ),
        }
    )
    return out.withColumn("is_valid", F.size(F.col("issues")) == 0)


def explode_issues(df: DataFrame, row_id_col: str = "row_id") -> DataFrame:
    """P6 second half (`worker.py:358-368`): one row per (row, issue).

    The reference inserts one Issue row per violation; ``explode`` is
    the declarative equivalent."""
    return df.select(
        F.col(row_id_col), F.explode(F.col("issues")).alias("issue_type")
    )
