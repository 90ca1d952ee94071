"""Blocked fuzzy-match join for entity resolution (SURVEY.md §2 dedup
family; reference semantics: `backend/worker.py`'s duplicate detection,
generalized from exact signature equality to bounded edit distance).

All-pairs similarity is O(n²) and never survives scale. The standard
entity-resolution answer is *blocking*: only rows sharing a cheap
deterministic blocking key are compared, so the join is a plain
equi-shuffle on the block key and the quadratic term is bounded by the
largest block, not the table.

Scale notes (100 TB): one shuffle on the block columns; the expensive
``levenshtein`` runs JVM-side inside whole-stage codegen, gated behind
a cheap length-difference pre-filter (edit distance ≥ |len(a)-len(b)|,
so the conjunct order prunes most pairs before the DP kicks in). Hot
blocks are a data-quality smell (a blocking key shared by millions of
rows compares nothing useful); mitigate by refining the key — add a
length bucket via ``length_bucket`` — rather than salting, since the
semantics *require* co-locating the whole block.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def length_bucket(col: Column, width: int = 4) -> Column:
    """Blocking refinement: rows whose lengths differ by more than
    ``max_dist`` can't be within ``max_dist`` edits, so bucketing by
    length(width ≥ 2·max_dist) loses no true pair across at most two
    adjacent buckets. Callers who need exact recall under bucketing
    join each row to its own and the next bucket."""
    return (F.length(col) / F.lit(width)).cast("int")


_LB = "__lb"


def _banded(
    a: DataFrame, b: DataFrame, a_text: str, b_text: str,
    width: int, max_dist: int,
) -> tuple[DataFrame, DataFrame]:
    """Refine a blocked join with length buckets, losing NO true pair:
    any pair within ``max_dist`` edits has ``|len(a)-len(b)| ≤ max_dist
    ≤ width``, so their buckets differ by at most 1. Side ``a`` keeps
    its own bucket; side ``b`` explodes to {lb-1, lb, lb+1} — every
    qualifying pair matches EXACTLY once, at key ``bucket(a)`` (no
    dedup pass needed). The 3× explode of one side buys a pair count of
    ~3·B²/L per block instead of B² (L = distinct length buckets)."""
    if width < max_dist:
        raise ValueError(
            f"length bucket width {width} < max_dist {max_dist}: adjacent-"
            "bucket probing would miss pairs (need width >= max_dist)"
        )
    lb_a = length_bucket(F.col(a_text), width)
    lb_b = length_bucket(F.col(b_text), width)
    return (
        a.withColumn(_LB, lb_a),
        b.withColumn(_LB, F.explode(F.array(lb_b - 1, lb_b, lb_b + 1))),
    )


def fuzzy_self_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    max_dist: int,
    extra_cols: Sequence[str] = (),
    length_bucket_width: int | None = None,
    collapse_exact: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs within blocks: (id_a < id_b,
    levenshtein(text_a, text_b) ≤ max_dist). Output columns:
    ``block_cols…, id_a, id_b, text_a, text_b, extra pairs…,
    edit_dist``.

    ``length_bucket_width`` (≥ max_dist; recommended ≥ 2·max_dist so
    most true pairs land same-bucket) composes a length bucket into the
    block key via :func:`_banded` — REQUIRED whenever ``block_cols``
    alone has fixed cardinality, because block size then grows linearly
    with data and the within-block pair count quadratically. Recall is
    exactly unchanged (the pre-filter below already discards any pair
    the bucketing could discard), so results are bit-identical.

    ``collapse_exact`` runs the quadratic join over DISTINCT (block,
    text) values only, then expands representatives back to id pairs
    with two equi-joins — also bit-identical output. This is the lever
    that actually bounds cost when the text column has bounded entropy
    (short strings / fixed vocabulary): duplicates explode linearly
    with data while the distinct set saturates, so the levenshtein pair
    count becomes quadratic in DISTINCT names, not rows (measured on
    the part table at sf0.1: 8.0M → 204k candidate pairs, 39×). Length
    banding prunes the complementary regime — long, high-entropy
    strings with spread lengths — so the two compose."""
    if collapse_exact:
        return _collapsed_self_pairs(
            df, id_col, text_col, block_cols, max_dist, extra_cols,
            length_bucket_width,
        )
    keep = [id_col, text_col, *extra_cols]
    a = df.select(
        *block_cols, *[F.col(c).alias(f"{c}_a") for c in keep]
    )
    b = df.select(
        *block_cols, *[F.col(c).alias(f"{c}_b") for c in keep]
    )
    join_cols = list(block_cols)
    if length_bucket_width is not None:
        a, b = _banded(
            a, b, f"{text_col}_a", f"{text_col}_b", length_bucket_width, max_dist
        )
        join_cols.append(_LB)
    dist = F.levenshtein(F.col(f"{text_col}_a"), F.col(f"{text_col}_b"))
    pairs = (
        a.join(b, on=join_cols)
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        # cheap bound first: |len difference| ≤ max_dist is necessary
        .filter(
            F.abs(
                F.length(F.col(f"{text_col}_a")) - F.length(F.col(f"{text_col}_b"))
            )
            <= F.lit(max_dist)
        )
        .filter(dist <= F.lit(max_dist))
    )
    return pairs.select(
        *block_cols,
        F.col(f"{id_col}_a").alias("id_a"),
        F.col(f"{id_col}_b").alias("id_b"),
        F.col(f"{text_col}_a").alias("text_a"),
        F.col(f"{text_col}_b").alias("text_b"),
        *[F.col(f"{c}_a").alias(f"{c}_a") for c in extra_cols],
        *[F.col(f"{c}_b").alias(f"{c}_b") for c in extra_cols],
        dist.alias("edit_dist"),
    )


def _collapsed_self_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    max_dist: int,
    extra_cols: Sequence[str],
    length_bucket_width: int | None,
) -> DataFrame:
    """Exact-duplicate collapse: levenshtein over distinct (block,
    text) ORDERED pairs (including text_a == text_b, edit 0), then two
    equi-joins expand representatives to member id pairs. Every
    unordered id pair {x, y} with id_x < id_y surfaces exactly once —
    from the ordered text pair (text(x), text(y)) — so no orientation
    fix-up is needed. The candidate frame is distinct²-sized (tiny ⇒
    AQE broadcasts it into both expansion joins); the expansion's
    output IS the result, so its cost is the irreducible output size."""
    blocks = list(block_cols)
    d = df.select(*blocks, text_col).distinct()
    da = d.select(*blocks, F.col(text_col).alias("text_a"))
    db = d.select(*blocks, F.col(text_col).alias("text_b"))
    join_cols = list(blocks)
    if length_bucket_width is not None:
        da, db = _banded(da, db, "text_a", "text_b", length_bucket_width, max_dist)
        join_cols.append(_LB)
    dist = F.levenshtein(F.col("text_a"), F.col("text_b"))
    cand = (
        da.join(db, on=join_cols)
        .filter(
            F.abs(F.length(F.col("text_a")) - F.length(F.col("text_b")))
            <= F.lit(max_dist)
        )
        .filter(dist <= F.lit(max_dist))
        .select(*blocks, "text_a", "text_b", dist.alias("edit_dist"))
    )
    ma = df.select(
        *blocks,
        F.col(text_col).alias("text_a"),
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in extra_cols],
    )
    mb = df.select(
        *blocks,
        F.col(text_col).alias("text_b"),
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in extra_cols],
    )
    return (
        cand.join(ma, on=[*blocks, "text_a"])
        .join(mb, on=[*blocks, "text_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            *blocks,
            "id_a",
            "id_b",
            "text_a",
            "text_b",
            *[f"{c}_a" for c in extra_cols],
            *[f"{c}_b" for c in extra_cols],
            "edit_dist",
        )
    )
