"""Mergeable sketches: bounded-state approximate distinct / frequency.

The reference platform answers "how many distinct X / how often does Y
occur" by re-scanning its resolved tables after every job
(`/root/reference/backend/worker.py` finalize path recomputes summary
counts from scratch). At 10^10 rows the exact recompute per question is
the wrong shape twice over: the scan cost, and — for COUNT(DISTINCT) —
the shuffle of every distinct value. The classic 100 TB answer is a
*mergeable sketch*: a fixed-size summary whose partials combine
associatively, so it builds map-side in one pass, ships O(sketch) bytes
per partition, and maintains incrementally per CDF epoch.

Two textbook sketches, both DETERMINISTIC here (seeded portable hashes,
no RNG) so the DuckDB oracle gate can replicate them bit-for-bit:

- **KMV (k-minimum-values / bottom-k)** for distinct counting
  [Bar-Yossef et al. 2002]: keep the k smallest distinct hash values;
  estimate D ≈ (k-1)·M / v_k where v_k is the k-th minimum over hash
  space [0, M). Merge = union + re-truncate (associative, commutative,
  idempotent). Insert-only: a minimum cannot be "unseen" — feeds with
  retractions belong to :func:`ivm.maintain_distinct`'s exact
  multiplicity table instead, and :func:`maintain_kmv` refuses them.
- **Count-min** for frequency estimation [Cormode & Muthukrishnan
  2005]: a depth×width grid of counters; est(x) = min_d cell[d, h_d(x)]
  (always ≥ true count). Counters are ADDITIVE — signed CDF deltas
  maintain them exactly, so the maintained sketch equals the sketch of
  the post-epoch state (deletes and updates included), riding
  :func:`ivm.maintain_aggregate`'s exactly-once MERGE.

Scale shape: a KMV build is a distinct (map-side combining) shuffle of
(group, hash) pairs followed by the salted bounded top-k
(``operators/topk.py`` — reducer state ≤ n_salt·k per group); a CMS
build shuffles depth·width cells AT MOST no matter the input size; CMS
maintenance shuffles only the epoch's delta. Nothing here ever
collects more than sketch-sized state to the driver — nothing collects
at all.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.functions.hashing import (
    portable_poly_hash,
)
from data_ingestion_resolution_platform_spark.sources.lake import CHANGE_COL, is_retraction

#: Hash space [0, HASH_SPACE) of ``portable_poly_hash`` — Mersenne-31.
HASH_SPACE = (1 << 31) - 1

# Seed walk for the depth-wise universal hash family — same LCG
# constants as the MinHash seed walk in operators/dedup.py so the DuckDB
# twin is one shared convention.
MIX_A = 1_103_515_245
MIX_B = 12_345


def cms_seeds(depth: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the depth-wise hash family."""
    return [
        ((MIX_A * (2 * i + 1)) % HASH_SPACE, (MIX_B * (i + 7)) % HASH_SPACE)
        for i in range(depth)
    ]


def _item_hash(item: Column) -> Column:
    """Portable base hash of an item: NULL folds to '' (hash 0) so both
    engines bucket NULLs identically."""
    return portable_poly_hash(F.coalesce(item.cast("string"), F.lit("")))


def kmv_hash(item: Column) -> Column:
    """KMV hash: the portable polynomial hash pushed through an affine
    mix ``(h·A + B) mod M``. The raw char-fold of a SHORT string never
    wraps M, so it is far from uniform on [0, M) — and the KMV
    estimator is exactly a uniformity argument about v_k. The affine
    map is a bijection on Z_M (M prime ⇒ gcd(A, M)=1): distinctness is
    preserved, small inputs scatter across the full space."""
    return F.pmod(
        _item_hash(item) * F.lit(MIX_A) + F.lit(MIX_B), F.lit(HASH_SPACE)
    )


def _cms_bucket(h: Column, a: int, b: int, width: int) -> Column:
    # h, a < 2^31 keeps h*a + b < 2^62: no int64 overflow in either engine
    return F.pmod(F.pmod(h * F.lit(a) + F.lit(b), F.lit(HASH_SPACE)), F.lit(width))


# ---------------------------------------------------------------------------
# KMV distinct sketch
# ---------------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 256,
    n_salt: int = 16,
) -> DataFrame:
    """Per-group KMV sketch: sorted array of the ``k`` smallest DISTINCT
    portable hashes of ``value_col``. Output: group cols + ``kmv``.

    Plan: distinct (group, hash) pairs — one shuffle with map-side
    combine, state per reducer bounded by its partition's distinct
    share — then the exact salted bottom-k (``grouped_topk`` on the
    negated hash), whose reducer state is ≤ n_salt·k per group. The
    sketch never exceeds k longs per group regardless of input size.
    """
    if k < 2:
        raise ValueError("KMV needs k >= 2 (v_k drives the estimator)")
    keys = list(group_cols)
    pairs = df.select(*keys, kmv_hash(F.col(value_col)).alias("_h")).distinct()
    return _kmv_build(pairs, keys, k, n_salt)


def _kmv_build(pairs: DataFrame, keys: list[str], k: int, n_salt: int) -> DataFrame:
    """Group cols + ``kmv``: the sorted ``k`` smallest hashes of the
    distinct (group, ``_h``) ``pairs`` — the one builder behind both
    :func:`kmv_sketch` and :func:`maintain_kmv`."""
    from data_ingestion_resolution_platform_spark.operators.topk import grouped_topk

    bottom = grouped_topk(pairs, keys, [F.col("_h") * -1], k, n_salt=n_salt, rank_col="_rk")
    return bottom.groupBy(*keys).agg(F.sort_array(F.collect_list("_h")).alias("kmv"))


def kmv_estimate(kmv_col: str, k: int) -> Column:
    """Distinct-count estimate off a KMV array column: exact size while
    the sketch is not yet full, else ``(k-1)·M div v_k`` — integer
    arithmetic only ((k-1)·M < 2^63, ``div`` = DuckDB ``//`` on
    positives), so Spark and the SQL oracle agree to the last bit."""
    num = (k - 1) * HASH_SPACE
    return F.expr(
        f"CASE WHEN size({kmv_col}) >= {k} "
        f"THEN CAST({num} AS BIGINT) div element_at({kmv_col}, {k}) "
        f"ELSE CAST(size({kmv_col}) AS BIGINT) END"
    )


def kmv_merge(a: Column, b: Column, k: int) -> Column:
    """Merge two KMV arrays: union, dedupe, keep the k smallest.
    Associative + commutative + idempotent — the mergeability that lets
    partial sketches combine across partitions, epochs, or tables."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)


def _refuse_retractions(changes: DataFrame, name: str, why: str, instead: str) -> None:
    """The insert-only sketches' guard: a feed row that retracts
    (delete / update_preimage) raises rather than letting the sketch
    drift silently from its one-shot build."""
    if changes.filter(is_retraction()).limit(1).count() > 0:
        raise ValueError(f"{name} is insert-only ({why}); use {instead} for invertible feeds")


def maintain_kmv(
    table,
    changes: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 256,
    epoch_id: str | int | None = None,
    n_salt: int = 16,
) -> dict:
    """Advance a persisted per-group KMV ``LakeTable`` (schema: group
    cols + ``kmv``) by one APPEND-ONLY feed epoch, exactly-once.

    Inserts merge into the stored sketch (union + re-truncate): the
    epoch reads only the touched groups' state (``table.lookup``, a
    broadcast semi-join — the table never shuffles) and its cost is
    O(|Δ| + touched·k).
    Retractions are REFUSED: a KMV minimum cannot be unseen (the
    sketch holds no multiplicity), so a feed with deletes or
    update_preimages must use ``ivm.maintain_distinct``'s exact
    multiplicity table instead — failing loud beats drifting silently.
    """
    if epoch_id is not None and table.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}
    keys = list(group_cols)
    _refuse_retractions(
        changes, "maintain_kmv", "KMV cannot retract a minimum", "ivm.maintain_distinct"
    )
    pairs = changes.select(*keys, kmv_hash(F.col(value_col)).alias("_h")).distinct()
    table.create(_kmv_build(pairs, keys, k, n_salt).schema)
    old = table.lookup(pairs.select(*keys).distinct()).select(
        *keys, F.explode("kmv").alias("_h")
    )
    pairs = pairs.unionByName(old).distinct()
    return table.merge(_kmv_build(pairs, keys, k, n_salt), keys, epoch_id=epoch_id)


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def _cell_structs(h: Column, depth: int, width: int) -> list[Column]:
    return [
        F.struct(
            F.lit(i).cast("int").alias("d"),
            _cms_bucket(h, a, b, width).cast("long").alias("bucket"),
        )
        for i, (a, b) in enumerate(cms_seeds(depth))
    ]


def cms_cells(
    df: DataFrame,
    item: Column,
    depth: int = 4,
    width: int = 512,
    count_alias: str = "cnt",
) -> DataFrame:
    """Build count-min cells ``(d, bucket, cnt)`` for one item per row.

    Explodes each row into ``depth`` (d, bucket) coordinates (pure
    expressions, JVM-side) and counts per cell — the shuffle carries at
    most depth·width distinct keys with map-side combine, so the build
    output is sketch-sized no matter how large the input is.
    """
    cells = df.select(F.explode(F.array(*_cell_structs(_item_hash(item), depth, width))).alias("_c"))
    return cells.groupBy(
        F.col("_c.d").alias("d"), F.col("_c.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias(count_alias))


def cms_lookup(
    cells: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
    count_alias: str = "cnt",
    est_alias: str = "est_count",
) -> DataFrame:
    """Point-query the sketch for each candidate row in ``items``:
    ``est = min over d of cell count`` (missing cell = 0). The cell
    table is ≤ depth·width rows ⇒ broadcast, so the join never
    shuffles the candidates; the only shuffle is the final min-agg
    over depth·|items| rows (map-side combining).
    """
    probes = items.select(
        item_col,
        F.explode(
            F.array(*_cell_structs(_item_hash(F.col(item_col)), depth, width))
        ).alias("_c"),
    ).select(item_col, F.col("_c.d").alias("d"), F.col("_c.bucket").alias("bucket"))
    j = probes.join(F.broadcast(cells), on=["d", "bucket"], how="left")
    return j.groupBy(item_col).agg(
        F.min(F.coalesce(F.col(count_alias), F.lit(0))).cast("long").alias(est_alias)
    )


def maintain_cms(
    table,
    changes: DataFrame,
    item_expr: str,
    depth: int = 4,
    width: int = 512,
    epoch_id: str | int | None = None,
    count_alias: str = "cnt",
) -> dict:
    """Advance a persisted count-min ``LakeTable`` (keys ``d, bucket``)
    by one INVERTIBLE change-feed epoch, exactly-once.

    Counters are additive, so this is exactly the signed-delta algebra
    of ``ivm.maintain_aggregate`` over the exploded (d, bucket)
    coordinates: inserts/postimages +1, deletes/preimages -1 — the
    maintained cells equal ``cms_cells`` of the post-epoch state, with
    only the epoch's delta ever shuffled (≤ depth·|Δ| rows, combining
    down to ≤ depth·width cells). Zeroed cells are dropped by the MERGE
    delete clause; ``cms_lookup`` reads absent as 0.
    """
    from data_ingestion_resolution_platform_spark.operators.ivm import (
        maintain_aggregate,
    )

    h = _item_hash(F.expr(item_expr))
    exploded = changes.select(
        F.col(CHANGE_COL),
        F.explode(F.array(*_cell_structs(h, depth, width))).alias("_c"),
    ).select(
        F.col(CHANGE_COL),
        F.col("_c.d").alias("d"),
        F.col("_c.bucket").alias("bucket"),
    )
    return maintain_aggregate(
        table,
        exploded,
        ["d", "bucket"],
        epoch_id=epoch_id,
        count_alias=count_alias,
    )


# ---------------------------------------------------------------------------
# Quantile sketch (bottom-k row sample)
# ---------------------------------------------------------------------------
#
# Completes the sketch triad (distinct = KMV, frequency = count-min,
# quantiles = this): bounded-state grouped quantiles for UNBOUNDED value
# domains, where the exact multiplicity histogram (ivm.maintain_distinct
# read by ivm.quantiles_from_multiplicity) — O(distinct values) state —
# is the wrong shape at 10^10 rows.
#
# Structure: per group, the k rows whose mixed portable hash of a UNIQUE
# numeric row id is smallest — i.e. a uniform random sample of rows
# drawn by hashing (bottom-k sampling, Cohen & Kaplan 2007), with the
# hash as the sampling randomness so the sketch is fully DETERMINISTIC.
# Quantile estimate = order statistic of the sample: rank error is
# O(1/sqrt(k)) with high probability (standard sampling bound).
#
# Why not KLL/GK: their guarantees are better per byte, but KLL's
# compaction is randomized and GK's is an inherently sequential
# multi-pass band structure — neither can be replicated by a one-shot
# DuckDB SQL twin, so neither can pass the driver's bit-equality gate.
# The bottom-k sample is the strongest structure that is simultaneously
# (a) mergeable with an EXACT homomorphism — merge(sk(A), sk(B)) ==
# sk(A ∪ B) for disjoint row ids, because "k smallest hashes of A ∪ B"
# distributes over union — (b) bounded at k structs per group, and
# (c) expressible in both engines from shared primitives.
#
# State row: group cols + ``qs`` = array<struct<h,i,v>> sorted by
# (h, i), len ≤ k. The unique id rides along so hash collisions stay
# distinct rows (merge dedupes on the full struct — exactly redelivery
# dedupe, never a sample-point collapse).


def qsample_sketch(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_col: str,
    k: int = 256,
    n_salt: int = 16,
) -> DataFrame:
    """Per-group bottom-k row-sample quantile sketch over a numeric
    value column; ``id_col`` must be a UNIQUE numeric row id (the
    sampling key). Output: group cols + ``qs``.

    Plan: one projection to (group, h, id, value), then the exact
    salted bottom-k (``grouped_topk`` on the negated (h, id) order —
    reducer state ≤ n_salt·k per group), then a k-bounded collect into
    the sorted struct array. One shuffle pair, no unbounded state.
    """
    if k < 2:
        raise ValueError("quantile sample needs k >= 2")
    keys = list(group_cols)
    return _qsample_build(_qsample_rows(df, keys, value_col, id_col), keys, k, n_salt)


def _qsample_rows(df: DataFrame, keys: list[str], value_col: str, id_col: str) -> DataFrame:
    """``df`` as sample candidates: group cols + (``_h``, ``_i``, ``_v``)."""
    return df.select(
        *keys,
        kmv_hash(F.col(id_col)).alias("_h"),
        F.col(id_col).cast("long").alias("_i"),
        F.col(value_col).cast("long").alias("_v"),
    )


def _qsample_build(rows: DataFrame, keys: list[str], k: int, n_salt: int) -> DataFrame:
    """Group cols + ``qs``: the ``k`` candidate ``rows`` smallest by
    (h, i) as the sorted struct array — the one builder behind both
    :func:`qsample_sketch` and :func:`maintain_qsample`."""
    from data_ingestion_resolution_platform_spark.operators.topk import grouped_topk

    bottom = grouped_topk(
        rows, keys, [F.col("_h") * -1, F.col("_i") * -1], k, n_salt=n_salt, rank_col="_rk"
    )
    return bottom.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("_h").alias("h"), F.col("_i").alias("i"), F.col("_v").alias("v")
                )
            )
        ).alias("qs")
    )


def qsample_merge(a: Column, b: Column, k: int) -> Column:
    """Merge two qs arrays: union, dedupe on the full (h, i, v) struct
    (collapses only true redeliveries — ids are unique), keep the k
    smallest by (h, i). Associative + commutative + idempotent, and
    EXACTLY the sketch of the unioned inputs."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)


def qsample_quantile(qs_col: str, num: int, den: int) -> Column:
    """Estimated ``num/den`` quantile off a qs array: the ceil(q·n)-th
    smallest sampled value (1-based, clamped to 1). Integer index
    arithmetic only, so Spark and the DuckDB twin agree to the bit."""
    return F.expr(
        f"element_at(array_sort(transform({qs_col}, x -> x.v)), "
        f"greatest(1, cast((size({qs_col}) * {num} + {den} - 1) div {den} as int)))"
    )


def qsample_values_csv(qs_col: str) -> Column:
    """The full sorted sample as a '|'-joined string — lets a gate
    compare the entire sketch content, not just the quantile points."""
    return F.array_join(
        F.expr(f"transform(array_sort(transform({qs_col}, x -> x.v)), v -> cast(v as string))"),
        "|",
    )


def maintain_qsample(
    table,
    changes: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_col: str,
    k: int = 256,
    epoch_id: str | int | None = None,
    n_salt: int = 16,
) -> dict:
    """Advance a persisted per-group quantile-sample ``LakeTable``
    (schema: group cols + ``qs``) by one APPEND-ONLY feed epoch,
    exactly-once.

    Inserts merge via union + re-truncate, reading only the touched
    groups' state (``table.lookup``, a broadcast semi-join — the table
    never shuffles): cost O(|Δ| + touched·k), flat as the corpus grows.
    Retractions are REFUSED, same contract as :func:`maintain_kmv`: a
    bottom-k sample cannot re-admit the row the deleted one displaced,
    so the maintained sketch would silently stop equaling the one-shot
    build —
    invertible feeds belong to the exact multiplicity histogram
    (``ivm.maintain_distinct`` + ``ivm.quantiles_from_multiplicity``)
    or to the pipeline's ``maintain_quantiles`` sample, which stays
    exact under retractions. The maintained sketch EQUALS the one-shot
    :func:`qsample_sketch` of all epochs' rows (exact homomorphism),
    which is what the property tests and the oracle twin assert.
    """
    if epoch_id is not None and table.epoch_committed(epoch_id):
        return {"skipped": True, "epoch": str(epoch_id)}
    keys = list(group_cols)
    _refuse_retractions(
        changes,
        "maintain_qsample",
        "a bottom-k sample cannot re-admit a displaced row",
        "ivm.maintain_distinct + ivm.quantiles_from_multiplicity (exact "
        "histogram) or CDCPipeline(maintain_quantiles=True) (a sample that "
        "stays exact under retractions)",
    )
    rows = _qsample_rows(changes, keys, value_col, id_col)
    table.create(_qsample_build(rows, keys, k, n_salt).schema)
    old = (
        table.lookup(rows.select(*keys).distinct())
        .select(*keys, F.explode("qs").alias("_s"))
        .select(
            *keys,
            F.col("_s.h").alias("_h"),
            F.col("_s.i").alias("_i"),
            F.col("_s.v").alias("_v"),
        )
    )
    # distinct on the full row: a redelivered insert that also sits in
    # the stored sketch must not count twice in the bottom-k
    rows = rows.unionByName(old).distinct()
    return table.merge(_qsample_build(rows, keys, k, n_salt), keys, epoch_id=epoch_id)
