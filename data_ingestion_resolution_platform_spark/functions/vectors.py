"""Vector math over array<float> embedding columns — Column exprs.

``zip_with`` + ``aggregate`` keep dot products JVM-side. For exact
cross-engine comparability (the DuckDB oracle gate hashes values), the
similarity queries quantize embeddings to integers first: integer dot
products are exact, and the final double division is IEEE-identical
across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize_vector(a: Column, scale: int = 1000) -> Column:
    """array<float> → array<long> of round(x*scale): exact integer space
    for cross-engine-deterministic similarity ranking."""
    return F.transform(a, lambda x: F.round(x.cast("double") * scale).cast("long"))


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


_MIX_MULT = 2_654_435_761  # Knuth multiplicative-hash constant


def portable_sign(idx: Column, salt: int) -> Column:
    """±1 pseudo-random sign from pure integer mixing — identical in any
    SQL engine: ``bit = (((idx + salt) * 2654435761) >> 13) & 1``;
    bit 0 ⇒ +1. Used by the portable (oracle-checked) configurations of
    the random-projection codebooks; the default configurations use
    xxhash64 (better mixing, Spark-only)."""
    h = (idx + F.lit(salt)) * F.lit(_MIX_MULT)
    bit = F.shiftright(h, 13).bitwiseAND(F.lit(1))
    return F.when(bit == 0, F.lit(1)).otherwise(F.lit(-1))


def portable_sign_sql(idx_expr: str, salt: int) -> str:
    """The DuckDB twin of :func:`portable_sign` (1-based list index in,
    same 0-based mixing)."""
    return (
        f"(CASE WHEN ((({idx_expr} + {salt}) * {_MIX_MULT}) >> 13) & 1 = 0"
        " THEN 1 ELSE -1 END)"
    )


def quantized_cosine(a_q: Column, b_q: Column) -> Column:
    """Cosine over quantized vectors: exact integer dot / sqrt(int norms).

    Every intermediate is either an exact BIGINT or a correctly-rounded
    IEEE-754 double op, so Spark and DuckDB produce bit-identical
    results — safe for the value-hash correctness gate.
    """
    return (
        int_dot(a_q, b_q).cast("double")
        / F.sqrt(int_dot(a_q, a_q).cast("double") * int_dot(b_q, b_q).cast("double"))
    )
