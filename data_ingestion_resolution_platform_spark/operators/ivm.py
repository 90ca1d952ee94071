"""Incremental view maintenance (IVM) of additive aggregates from a
change-data feed.

The reference recomputes its summary/lineage counts by re-scanning the
resolved table after every job (`/root/reference/backend/worker.py`
finalize path). At 10^10 rows a full rescan per epoch is the wrong
shape: a grouped aggregate of additive measures (COUNT, SUM, and
anything derived from them — AVG = SUM/COUNT) can be maintained from
the change feed alone, touching only the groups the epoch changed.

The algebra (classic delta-propagation, e.g. DBToaster / Materialize):
every CDF row carries a sign —

    insert            → +1   (adds its contribution)
    update_postimage  → +1
    update_preimage   → -1   (subtracts the OLD contribution — this is
                              why the feed must be invertible, i.e.
                              produced with ``include_preimages=True``
                              by :func:`sources.lake.snapshot_diff`)
    delete            → -1   (delete rows carry the before-image)

so ``Δagg = changes.groupBy(group_keys).agg(sum(sign), sum(sign*m)…)``
and ``new_state = state ⊕ Δagg`` (pointwise add, drop groups whose
row count reaches 0). Updates that MOVE a row between groups (a
group-key column changed) are handled for free: the preimage subtracts
from the old group, the postimage adds to the new one. Every maintainer
here applies ``state ⊕ Δ`` through the one :func:`add_stored`, and
reads the stored rows of its touched keys through the tables' one
key-probe, ``sources/lake._MergeTable.lookup``.

Plan shape / scale:
- the delta aggregation shuffles ONLY the change batch (|Δ| rows, with
  map-side partial aggregation — sums and counts combine), never the
  base table and never the aggregate state;
- applying the delta (:func:`add_stored`) is a join on the group key
  where one side is the per-epoch delta (small ⇒ broadcast) — with a
  bucketed state table the rewrite touches only the buckets holding
  changed groups.
Non-additive aggregates get their own maintainers instead of the
naive full-rescan:

- COUNT(DISTINCT x) — :func:`maintain_distinct` keeps a multiplicity
  side table per (group, value) and derives the distinct-count delta
  from zero crossings of the multiplicity (0→+ adds a distinct value,
  +→0 removes one). Both levels stay O(|Δ|) per epoch.
- MIN/MAX — :func:`maintain_minmax`. Inserts are additive
  (new_max = greatest(old, Δmax)); a delete can only invalidate the
  stored extreme when the retracted value TIES it, so only those
  "dirty" groups are rescanned from the base table — a broadcast
  semi-pruned scan of the touched groups, never the full base.
- Per-group top-k — :func:`maintain_topk`. The stored k-buffer absorbs
  inserts without a base read; only retractions that hit a stored row
  force a back-fill rescan of that group (MIN/MAX is the k=1 special
  case of the same argument).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.sources.lake import (
    CHANGE_COL,
    DELETE,
    DELETE_COL,
    INSERT,
    is_positive,
    is_retraction,
    signed,
)


def delta_aggregate(
    changes: DataFrame,
    group_keys: Sequence[str],
    sum_cols: Mapping[str, str] | None = None,
    count_alias: str = "n_rows",
) -> DataFrame:
    """Collapse a pre-image-bearing change feed into one signed delta
    row per touched group: ``group_keys + count_alias + <sum aliases>``.

    ``sum_cols`` maps output alias → input column/SQL expression, e.g.
    ``{"total_bytes": "length(content)"}``. Sums are computed as
    ``SUM(sign * expr)`` so NULL measures are ignored symmetrically on
    the add and the subtract side (matching SQL SUM semantics in the
    recomputed aggregate).
    """
    sum_cols = dict(sum_cols or {})
    base = signed(changes)
    aggs = [F.sum("_sign").cast("long").alias(count_alias)]
    for alias, expr in sum_cols.items():
        aggs.append(
            F.sum(F.col("_sign") * F.expr(expr).cast("long")).cast("long").alias(alias)
        )
    return base.groupBy(*group_keys).agg(*aggs)


def add_stored(
    table, delta: DataFrame, keys: Sequence[str], measures: Sequence[str]
) -> DataFrame:
    """``state ⊕ Δ`` for the touched keys: ``delta`` with each long
    measure in ``measures`` replaced by its stored value + Δ (a key with
    no stored row, or a table not yet committed, adds Δ to 0); every
    other column of ``delta`` passes through. ``delta`` is key-unique
    and names each measure as ``table`` stores it.

    Two broadcast-shaped steps so the (big) state never shuffles:
    ``table.lookup`` semi-joins the state down to the touched keys (the
    delta keys are the small broadcast side), then the delta left-joins
    that now-small touched set (broadcastable as the right side). A
    direct ``delta LEFT JOIN state`` could NOT broadcast — Spark only
    broadcasts the non-preserved side, which there is the full state.
    """
    key_list = list(keys)
    stored = table.lookup(delta.select(*key_list))
    if stored is None:
        return delta
    touched = stored.select(*key_list, *[F.col(c).alias(f"_s_{c}") for c in measures])
    joined = delta.join(F.broadcast(touched), on=key_list, how="left")
    return joined.select(
        *[
            (F.coalesce(F.col(f"_s_{c}"), F.lit(0)) + F.col(c)).cast("long").alias(c)
            if c in measures
            else F.col(c)
            for c in delta.columns
        ]
    )


def maintain_aggregate(
    table,
    changes: DataFrame,
    group_keys: Sequence[str],
    sum_cols: Mapping[str, str] | None = None,
    epoch_id: str | int | None = None,
    count_alias: str = "n_rows",
) -> dict:
    """Maintain a persisted grouped-aggregate ``LakeTable`` from one
    change-feed epoch, exactly-once.

    The MERGE batch contains ONLY groups the epoch touched
    (:func:`add_stored`: the delta LEFT JOIN its keys' stored rows —
    the delta side stays the driver of batch size), so with a bucketed
    target the rewrite cost is O(|delta| + touched buckets),
    independent of how many groups exist. Groups
    whose row count reaches 0 are deleted via the MERGE delete clause.
    Rides the table's epoch ledger: re-delivering the same epoch is a
    no-op, which is what makes signed deltas safe under at-least-once
    feeds (applying a delta twice would double-count).
    """
    if epoch_id is not None and table.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}
    key_list = list(group_keys)
    delta = delta_aggregate(changes, key_list, sum_cols, count_alias=count_alias)
    # delta feeds both the lookup's key side and the batch body —
    # persist so the |changes| aggregation runs once (unpersisted in
    # the finally below; same pattern as LakeTable.merge itself)
    delta = delta.persist()
    measures = [c for c in delta.columns if c not in key_list]
    try:
        batch = add_stored(table, delta, key_list, measures)
        return table.merge(
            batch.withColumn(DELETE_COL, F.col(count_alias) <= 0),
            key_list,
            epoch_id=epoch_id,
        )
    finally:
        delta.unpersist()


def maintain_distinct(
    mult_table,
    count_table,
    changes: DataFrame,
    group_keys: Sequence[str],
    value_col: str,
    epoch_id: str | int | None = None,
    distinct_alias: str = "n_distinct",
    count_alias: str = "n_rows",
) -> dict:
    """Maintain per-group ``COUNT(DISTINCT value_col)`` (plus the plain
    row count) from one invertible change-feed epoch, exactly-once.

    COUNT(DISTINCT) is not additive — an insert of an already-present
    value must NOT bump the count, and a delete must only decrement it
    when the LAST occurrence goes away. The classic fix (DBToaster-
    style higher-order maintenance) is a multiplicity side table keyed
    ``group_keys + value_col`` holding how many base rows carry each
    value; the distinct count then changes exactly at the zero
    crossings of that multiplicity:

        Δdistinct(group) = Σ_values [new_mult > 0] - [old_mult > 0]

    Plan shape / scale: the multiplicity delta shuffles only the
    change batch; both levels apply through :func:`add_stored`, so
    stored rows come from a broadcast-semi-pruned read of only the
    touched keys (no side table ever shuffles). The first level carries
    its Δ through as ``_dmult``, so the old multiplicity is new − Δ;
    the second-level delta is a groupBy of the already-epoch-sized
    frame. Both MERGEs touch only changed buckets. Epoch cost is
    O(|Δ|), independent of group count, value cardinality, and base
    size.

    Crash contract: ``count_table`` commits FIRST. On redelivery the
    count merge no-ops via its ledger while the multiplicity pre-state
    (still unmerged) reproduces the identical batches. The reverse
    ledger state — multiplicities committed, counts not — cannot be
    produced by this function and means the old multiplicities needed
    to rebuild the distinct delta are gone, so it raises.
    """
    mult_done = epoch_id is not None and mult_table.epoch_committed(epoch_id)
    count_done = epoch_id is not None and count_table.epoch_committed(epoch_id)
    if mult_done and count_done:
        return {"skipped": True, "epoch": str(epoch_id)}
    if mult_done and not count_done:
        raise RuntimeError(
            f"epoch {epoch_id!r} committed on the multiplicity table but not the "
            "count table: pre-image multiplicities are gone, the distinct delta "
            "is unrecoverable (count_table must always commit first)"
        )
    key_list = list(group_keys)
    mkeys = key_list + [value_col]
    mdelta = delta_aggregate(changes, mkeys, None, count_alias="_dmult").persist()
    try:
        j = add_stored(
            mult_table, mdelta.withColumn("_mult", F.col("_dmult")), mkeys, ["_mult"]
        ).persist()
        try:
            # SQL COUNT(DISTINCT) ignores NULL values: a NULL-valued
            # multiplicity row still contributes to the row count but
            # never to the distinct count's zero crossings
            crossing = (F.col("_mult") > 0).cast("int") - (
                F.col("_mult") - F.col("_dmult") > 0
            ).cast("int")
            cdelta = j.groupBy(*key_list).agg(
                F.sum(
                    F.when(F.col(value_col).isNotNull(), crossing).otherwise(F.lit(0))
                ).cast("long").alias(distinct_alias),
                F.sum("_dmult").cast("long").alias(count_alias),
            )
            cbatch = add_stored(count_table, cdelta, key_list, [distinct_alias, count_alias])
            counts = count_table.merge(
                cbatch.withColumn(DELETE_COL, F.col(count_alias) <= 0),
                key_list,
                epoch_id=epoch_id,
            )
            # NULL values stay OUT of the multiplicity table: they never
            # move the distinct count, and a NULL inside a MERGE key
            # would never equi-match its own row on redelivery (their
            # row-count contribution already flowed into cdelta above)
            mbatch = j.filter(F.col(value_col).isNotNull()).select(*mkeys, "_mult")
            mult = mult_table.merge(
                mbatch.withColumn(DELETE_COL, F.col("_mult") <= 0),
                mkeys,
                epoch_id=epoch_id,
            )
            return {"counts": counts, "multiplicities": mult}
        finally:
            j.unpersist()
    finally:
        mdelta.unpersist()


def maintain_minmax(
    table,
    changes: DataFrame,
    base_after: DataFrame,
    group_keys: Sequence[str],
    value_expr: str,
    epoch_id: str | int | None = None,
    count_alias: str = "n_rows",
    min_alias: str = "min_v",
    max_alias: str = "max_v",
) -> dict:
    """Maintain per-group MIN/MAX (plus row count) from one invertible
    change-feed epoch, exactly-once, without a full-group rescan.

    Inserts are additive: ``new_max = greatest(stored, Δmax⁺)``. A
    retraction (delete / update pre-image) can only invalidate the
    stored extreme when the retracted value TIES it — anything strictly
    inside the interval leaves min/max untouched. So:

    - groups where every retracted value sits strictly inside
      ``(stored_min, stored_max)`` are maintained purely from the delta
      (no base read at all);
    - the remaining "dirty" groups — retraction touched an extreme —
      are recomputed by scanning ``base_after`` (the POST-epoch base
      table the pipeline maintains anyway) pruned to exactly those
      groups via a broadcast semi join (a runtime filter / DPP-style
      partition prune when the base is partitioned on the group key).

    Epoch cost is O(|Δ| + rows in dirty groups): the worst case (every
    delete hits a group max) degrades to a scan of touched groups, the
    theoretical floor for MIN/MAX deletion; the common case never
    touches the base. A group whose row count reaches 0 is deleted via
    the MERGE delete clause. Rides the table's epoch ledger.

    ``value_expr`` is a SQL expression evaluated against both the
    change rows and ``base_after`` (they must share the column it
    reads), e.g. ``"cast(length(content) as bigint)"``.
    """
    if epoch_id is not None and table.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}
    key_list = list(group_keys)
    v = F.expr(value_expr)
    delta = signed(changes).groupBy(*key_list).agg(
        F.sum("_sign").cast("long").alias("_dn"),
        F.min(F.when(F.col("_sign") > 0, v)).alias("_pos_min"),
        F.max(F.when(F.col("_sign") > 0, v)).alias("_pos_max"),
        F.min(F.when(F.col("_sign") < 0, v)).alias("_neg_min"),
        F.max(F.when(F.col("_sign") < 0, v)).alias("_neg_max"),
    ).persist()
    try:
        stored = table.lookup(delta.select(*key_list))
        if stored is not None:
            touched = stored.select(
                *key_list,
                F.col(count_alias).alias("_sn"),
                F.col(min_alias).alias("_smin"),
                F.col(max_alias).alias("_smax"),
            )
            j = delta.join(F.broadcast(touched), on=key_list, how="left")
        else:
            j = (
                delta.withColumn("_sn", F.lit(None).cast("long"))
                .withColumn("_smin", F.lit(None).cast(delta.schema["_pos_min"].dataType))
                .withColumn("_smax", F.lit(None).cast(delta.schema["_pos_max"].dataType))
            )
        has_neg = F.col("_neg_min").isNotNull()
        # a retraction is dangerous iff it reaches a stored extreme; a
        # retraction against an unknown group (no stored state) is a feed/
        # state mismatch — rescan-safe rather than silently wrong
        dirty = has_neg & (
            F.col("_sn").isNull()
            | (F.col("_neg_max") >= F.col("_smax"))
            | (F.col("_neg_min") <= F.col("_smin"))
        )
        j = j.withColumn("_dirty", dirty).persist()
        try:
            clean = j.filter(~F.col("_dirty")).select(
                *key_list,
                (F.coalesce(F.col("_sn"), F.lit(0)) + F.col("_dn"))
                .cast("long")
                .alias(count_alias),
                F.least(F.col("_smin"), F.col("_pos_min")).alias(min_alias),
                F.greatest(F.col("_smax"), F.col("_pos_max")).alias(max_alias),
            )
            dirty_keys = j.filter(F.col("_dirty")).select(*key_list)
            rescan = (
                base_after.join(F.broadcast(dirty_keys), on=key_list, how="left_semi")
                .groupBy(*key_list)
                .agg(
                    F.count("*").cast("long").alias(count_alias),
                    F.min(v).alias(min_alias),
                    F.max(v).alias(max_alias),
                )
            )
            # a dirty group absent from base_after was fully emptied this
            # epoch — emit an explicit zero-count row so MERGE deletes it
            dirty_batch = dirty_keys.join(rescan, on=key_list, how="left").select(
                *key_list,
                F.coalesce(F.col(count_alias), F.lit(0)).cast("long").alias(count_alias),
                F.col(min_alias),
                F.col(max_alias),
            )
            batch = clean.unionByName(dirty_batch)
            return table.merge(
                batch.withColumn(DELETE_COL, F.col(count_alias) <= 0),
                key_list,
                epoch_id=epoch_id,
            )
        finally:
            j.unpersist()
    finally:
        delta.unpersist()


def quantiles_from_multiplicity(
    mult: DataFrame,
    group_keys: Sequence[str],
    value_col: str,
    qs: Mapping[str, float],
    count_alias: str = "_mult",
) -> DataFrame:
    """Exact per-group quantiles read directly off a maintained
    multiplicity side table (:func:`maintain_distinct`'s
    ``(group, value) → count`` histogram) — quantiles over a change
    feed with ZERO additional maintenance: the histogram is additive
    state the distinct-count maintainer already keeps.

    Discrete-quantile semantics (``percentile_disc``): the smallest
    value whose cumulative multiplicity reaches ``ceil(q · n)`` — exact
    and engine-portable (no interpolation, so a DuckDB oracle over the
    expanded rows reproduces it bit-for-bit; both engines evaluate
    ``q·n`` in IEEE double).

    Read cost: one window + one aggregate over the HISTOGRAM
    (|groups × distinct values| rows — the compacted representation),
    never the base table. At 10^10 base rows with bounded value domains
    this is the difference between a percentile dashboard that rescans
    the lake and one that reads kilobytes.
    """
    gk = list(group_keys)
    w = Window.partitionBy(*gk).orderBy(value_col)
    cum = F.sum(count_alias).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum(count_alias).over(Window.partitionBy(*gk))
    base = mult.withColumn("_cum", cum).withColumn("_tot", tot)
    aggs = [
        F.min(
            F.when(F.col("_cum") >= F.ceil(F.lit(float(q)) * F.col("_tot")), F.col(value_col))
        ).alias(alias)
        for alias, q in qs.items()
    ]
    return base.groupBy(*gk).agg(
        F.max("_tot").cast("long").alias("n_rows"), *aggs
    )


def maintain_topk(
    view,
    changes: DataFrame,
    base_after: DataFrame,
    group_keys: Sequence[str],
    row_keys: Sequence[str],
    order_expr: str,
    k: int,
    epoch_id: str | int | None = None,
    descending: bool = True,
) -> dict:
    """Maintain a persisted per-group top-k view ``LakeTable`` (the
    reference's paginated ORDER BY … LIMIT read models kept
    continuously fresh) from one invertible change-feed epoch,
    exactly-once.

    Invariant: the view holds, per group, the top ``k`` base rows by
    ``(order_expr, row_keys)`` — row keys break ties so the retained
    set is deterministic. Maintenance splits touched groups:

    - **clean** (no retraction hits a stored row): the new top-k is a
      re-rank of (stored rows ∪ epoch's positive images) — the stored
      buffer bounds it at k + |Δ_group| rows, no base read. Sound
      because an out-of-view retraction ranked below the stored k-th
      and a positive image can only displace downward.
    - **dirty** (a retraction matches a stored row — including updates
      that demote one): the unstored row k+1 may need to back-fill, so
      the group is recomputed from ``base_after`` pruned to exactly the
      dirty groups via broadcast semi join.

    Epoch cost: O(|Δ| + k·touched + rows in dirty groups); the window
    re-rank shuffles only that bounded candidate frame, never the base.
    Displaced rows leave the view through the MERGE delete clause;
    rides the view's epoch ledger.

    Plan shape: ``changes`` is persisted once; the three small control
    frames — ``vtouched`` (stored rows of touched groups),
    ``dirty_groups`` and ``new_top`` — are local checkpoints. Each is
    referenced two or three times, and every reference to an un-cut
    frame re-plans its nested broadcast subtree as separate Spark jobs
    that AQE does not reuse: one MERGE fanned out into ~90 jobs. Cut,
    each evaluates once (k·touched rows at most) and the MERGE runs in
    ~16 jobs.

    Column contract: ``changes`` = view columns + ``CHANGE_COL``;
    ``base_after`` must contain every view column (project the ordering
    measure into the feed upstream, e.g. ``nb = length(content)``).
    """
    if epoch_id is not None and view.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}
    gk, rk = list(group_keys), list(row_keys)
    keys = gk + rk
    cols = [c for c in changes.columns if c != CHANGE_COL]
    # the feed fans out into pos / neg / touched and re-enters the batch
    # plan several times; one persisted evaluation keeps a potentially
    # expensive upstream (a changelog's time-travel diff) from being
    # recomputed per branch, while everything downstream stays lazy so
    # the single MERGE action evaluates the whole tree once
    changes = changes.persist()
    try:
        pos = changes.filter(is_positive()).select(*cols)
        neg_keys = changes.filter(is_retraction()).select(*keys)
        stored = view.lookup(changes.select(*gk).distinct())
        vtouched = pos.limit(0) if stored is None else stored.localCheckpoint(eager=False)
        # dirty = a retraction key matches a stored row (exact key match,
        # not a value compare — ties make value compares ambiguous)
        dirty_groups = (
            vtouched.select(*keys)
            .join(F.broadcast(neg_keys), on=keys, how="left_semi")
            .select(*gk)
            .distinct()
            .localCheckpoint(eager=False)
        )
        order = F.expr(order_expr)
        ordering = [order.desc() if descending else order.asc()] + [
            F.col(c) for c in rk
        ]
        w = Window.partitionBy(*gk).orderBy(*ordering)

        def topk(df: DataFrame) -> DataFrame:
            return (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k)
                .drop("_rn")
            )

        # clean groups: stored buffer ∪ positive images, re-ranked.
        # In a clean group no positive image shares a key with a
        # stored row (that key's pre-image would have dirtied it),
        # so the union is key-unique by construction.
        vclean = vtouched.join(F.broadcast(dirty_groups), on=gk, how="left_anti")
        pclean = pos.join(F.broadcast(dirty_groups), on=gk, how="left_anti")
        new_clean = topk(vclean.select(*cols).unionByName(pclean))
        # dirty groups: back-fill from the post-epoch base, pruned
        rescan = base_after.select(*cols).join(
            F.broadcast(dirty_groups), on=gk, how="left_semi"
        )
        new_top = new_clean.unionByName(topk(rescan)).localCheckpoint(eager=False)
        displaced = vtouched.select(*keys).join(
            new_top.select(*keys), on=keys, how="left_anti"
        )
        batch = new_top.withColumn(DELETE_COL, F.lit(False)).unionByName(
            displaced.select(
                *keys,
                *[
                    F.lit(None).cast(new_top.schema[c].dataType).alias(c)
                    for c in cols
                    if c not in keys
                ],
                F.lit(True).alias(DELETE_COL),
            ),
            allowMissingColumns=False,
        )
        return view.merge(batch, keys, epoch_id=epoch_id)
    finally:
        changes.unpersist()


def delta_join(
    r_changes: DataFrame,
    s_changes: DataFrame,
    r_before: DataFrame,
    s_before: DataFrame,
    join_keys: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Signed delta of a materialized equi-join view ``V = R ⋈ S``
    (classic join delta-propagation, same algebra family as
    :func:`delta_aggregate`):

        ΔV = ΔR ⋈ S₀  ∪  R₀ ⋈ ΔS  ∪  ΔR ⋈ ΔS

    ``how="left"`` additionally maintains the null-extended anti part
    of a LEFT OUTER view. With S keyed BY the join key (required — per
    R row the match count μ is then 0 or 1), the anti part is
    ``A = R · (1 - μ(S))`` and its delta expands to three more signed
    terms, all Δ-broadcast joins:

        ΔA = ΔR ▷ S₀  (anti-join, ΔR's own sign)
           ∪ R₀ ⋈ Δμ  (sign -Δμ: a dim insert retracts the null row,
                        a dim delete re-creates it)
           ∪ ΔR ⋈ Δμ  (sign -(sign_R·Δμ) — the both-changed correction)

    where Δμ is ``s_changes`` restricted to insert/delete (attribute
    updates never change matching). S-side attributes on anti rows are
    typed NULLs.

    where S₀/R₀ are the PRE-epoch snapshots, every change-feed row
    carries a ±1 sign (``sources.lake.CHANGE_SIGN``; the feed must be
    invertible, i.e. produced with ``include_preimages=True``), state
    rows carry +1, and an output row's sign is the product of its
    inputs' signs.
    The third term corrects the double count when both sides change
    the same join key in one epoch.

    Plan shape / scale: the Δ sides are per-epoch small, so every term
    is a BROADCAST hash join — the base tables ``R₀``/``S₀`` are
    scanned once each but NEVER shuffled, and with the bases
    partitioned/bucketed on the join key the broadcast side doubles as
    a runtime filter (DPP) so the scans prune to touched partitions.
    Epoch cost is O(|Δ| + touched base partitions), independent of
    |R|·|S| — the shape that replaces a full view recompute at 10^10
    rows.

    Column contract: ``r_changes`` must equal ``r_before``'s columns
    plus ``CHANGE_COL`` (same for the S side), and the two sides'
    non-join columns must be disjoint.
    """
    jk = list(join_keys)
    r_cols = [c for c in r_changes.columns if c != CHANGE_COL]
    s_cols = [c for c in s_changes.columns if c != CHANGE_COL]
    if sorted(r_cols) != sorted(r_before.columns):
        raise ValueError(
            f"r_changes columns {sorted(r_cols)} != r_before {sorted(r_before.columns)}"
        )
    if sorted(s_cols) != sorted(s_before.columns):
        raise ValueError(
            f"s_changes columns {sorted(s_cols)} != s_before {sorted(s_before.columns)}"
        )
    overlap = (set(r_cols) & set(s_cols)) - set(jk)
    if overlap:
        raise ValueError(f"non-join columns shared by both sides: {sorted(overlap)}")

    dr, ds = signed(r_changes).drop(CHANGE_COL), signed(s_changes).drop(CHANGE_COL)
    r0 = r_before.withColumn("_sign", F.lit(1))
    s0 = s_before.withColumn("_sign", F.lit(1))

    def term(left: DataFrame, right: DataFrame, small: str) -> DataFrame:
        l = left.withColumnRenamed("_sign", "_sl")
        r = right.withColumnRenamed("_sign", "_sr")
        if small == "left":
            l = F.broadcast(l)
        else:
            r = F.broadcast(r)
        return (
            l.join(r, on=jk, how="inner")
            .withColumn("_sign", (F.col("_sl") * F.col("_sr")).cast("int"))
            .drop("_sl", "_sr")
        )

    # ΔR ⋈ S₀ (broadcast ΔR; S₀ never shuffles), R₀ ⋈ ΔS (broadcast
    # ΔS; R₀ never shuffles), ΔR ⋈ ΔS (both epoch-small).
    inner = (
        term(dr, s0, "left")
        .unionByName(term(r0, ds, "right"))
        .unionByName(term(dr, ds, "right"))
    )
    if how == "inner":
        return inner
    if how != "left":
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    # LEFT OUTER: add the anti part's delta. Typed NULLs for the S
    # attributes on every anti row.
    s_attr_fields = [f for f in s_before.schema.fields if f.name not in jk]
    null_s = [F.lit(None).cast(f.dataType).alias(f.name) for f in s_attr_fields]

    def null_extend(df: DataFrame) -> DataFrame:
        return df.select(*[c for c in df.columns if c != "_sign"], *null_s, "_sign")

    # Δμ: presence deltas of the S side (insert +1 / delete -1 on the
    # join key; updates keep μ constant and are excluded)
    dmu = s_changes.filter(F.col(CHANGE_COL).isin(INSERT, DELETE)).select(
        *jk,
        F.when(F.col(CHANGE_COL) == INSERT, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("_sign"),
    )
    # ΔR ▷ S₀ without shuffling S₀: an anti join can only broadcast its
    # non-preserved (right) side, so first semi-filter S₀'s keys down to
    # ΔR's (broadcast ΔR keys), then anti-join ΔR against that now-small
    # set (broadcast it) — same two-step trick as maintain_aggregate.
    s0_touched = s_before.select(*jk).join(
        F.broadcast(dr.select(*jk).distinct()), on=jk, how="left_semi"
    )
    a1 = null_extend(dr.join(F.broadcast(s0_touched), on=jk, how="left_anti"))
    a2 = null_extend(
        r_before.join(F.broadcast(dmu), on=jk, how="inner")
        .withColumn("_sign", (-F.col("_sign")).cast("int"))
    )
    a3 = null_extend(
        dr.withColumnRenamed("_sign", "_sl")
        .join(F.broadcast(dmu.withColumnRenamed("_sign", "_sr")), on=jk, how="inner")
        .withColumn("_sign", (-(F.col("_sl") * F.col("_sr"))).cast("int"))
        .drop("_sl", "_sr")
    )
    return inner.unionByName(a1).unionByName(a2).unionByName(a3)


def maintain_join(
    view,
    r_changes: DataFrame,
    s_changes: DataFrame,
    r_before: DataFrame,
    s_before: DataFrame,
    join_keys: Sequence[str],
    out_keys: Sequence[str],
    epoch_id: str | int | None = None,
    how: str = "inner",
) -> dict:
    """Maintain a persisted equi-join view ``LakeTable`` from one
    change-feed epoch on EITHER (or both) input tables, exactly-once —
    the reference's denormalized read models (`/root/reference/backend/
    main.py` list endpoints join contacts→issues→resolutions per
    request) kept continuously fresh without ever recomputing the join.

    ``out_keys`` is the view's primary key (for PK-keyed inputs: R's
    key columns, which subsume the join key when S is keyed by it).
    Per out-key the collapsed signed delta nets to at most one positive
    attribute image (the new row) and at most one negative (the old) —
    guaranteed when each side's feed is a :func:`snapshot_diff` epoch
    (one pre/post pair per key). MERGE semantics: positive image ⇒
    upsert, only-negative ⇒ delete, net-zero churn ⇒ untouched. Rides
    the view table's epoch ledger so at-least-once redelivery cannot
    double-apply a delta.

    ``how="left"`` maintains a LEFT OUTER view: unmatched R rows live
    in the view with NULL S attributes, and dim inserts/deletes flip
    rows between matched and null-extended in place (see
    :func:`delta_join`; requires S keyed by the join key).
    """
    if epoch_id is not None and view.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}
    key_list = list(out_keys)
    dv = delta_join(r_changes, s_changes, r_before, s_before, join_keys, how=how)
    attrs = [c for c in dv.columns if c not in set(key_list) | {"_sign"}]
    # collapse identical attribute images first (cancels same-epoch
    # churn), then pick the surviving image per key: max_by over the
    # net sign prefers the +1 (new) image; a key with only a -1 image
    # is a delete. Two |Δ|-sized shuffles — both bounded by the epoch,
    # never by the view.
    collapsed = (
        dv.groupBy(*key_list, *attrs)
        .agg(F.sum("_sign").cast("int").alias("_net"))
        .filter(F.col("_net") != 0)
    )
    batch = collapsed.groupBy(*key_list).agg(
        F.max("_net").alias("_maxnet"),
        F.max_by(F.struct(*[F.col(c) for c in attrs]), F.col("_net")).alias("_img"),
    )
    batch = batch.select(
        *key_list,
        *[F.col(f"_img.{c}").alias(c) for c in attrs],
        (F.col("_maxnet") < 0).alias(DELETE_COL),
    )
    return view.merge(batch, key_list, epoch_id=epoch_id)
