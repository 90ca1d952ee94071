"""Skew-aware aggregation: explicit key salting (SURVEY.md §4, §7.4).

Hot natural keys (a repo with millions of files, one key with millions
of change events) concentrate shuffle input on single reducers. Two
mitigations, composable:

1. **AQE** (`spark.sql.adaptive.skewJoin.enabled`, on in session.py)
   splits skewed *join* partitions at runtime.
2. **Explicit salting** here for *aggregations*: phase 1 aggregates per
   (key, salt) — fan-out N_SALT — phase 2 merges the partials per key.
   Correct for any algebraic aggregate (max_by/min_by/count/sum):
   LWW's "max of maxes" property is what makes two-phase legal.

Note Spark's hash aggregate already does map-side partial aggregation
(per *input partition*), which usually suffices for max_by-style LWW;
explicit salting matters when the *post-shuffle* per-key state is
itself large (e.g. collect_list of candidates) or when a single key
exceeds one reducer's capacity.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, n_salt: int = 16, entropy: Column | None = None) -> DataFrame:
    """Add a deterministic salt in [0, n_salt) derived from row content
    (hash of all columns unless ``entropy`` given) — no randomness, so
    replay produces identical partials."""
    src = entropy if entropy is not None else F.xxhash64(*[F.col(c) for c in df.columns])
    return df.withColumn(SALT_COL, F.pmod(src, F.lit(n_salt)).cast("int"))


def salted_latest(
    df: DataFrame,
    keys: Sequence[str],
    lsn_col: str,
    n_salt: int = 16,
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """Two-phase explicit-salt LWW: max_by per (key, salt), then per key.

    Phase 1 shuffles on (key, salt) — a hot key spreads over n_salt
    reducers; phase 2 shuffles at most n_salt rows per key.
    Semantically identical to ``resolve_latest`` (including
    deterministic ``tie_breakers`` ordering after the LSN).
    """
    payload_cols = list(df.columns)
    ordering = F.struct(F.col(lsn_col), *[F.col(t) for t in tie_breakers])
    salted = with_salt(df, n_salt, entropy=F.xxhash64(F.col(lsn_col)))
    staged = salted.withColumn(
        "__p", F.struct(*[F.col(c) for c in payload_cols])
    ).withColumn("__o", ordering)
    partial = staged.groupBy(*keys, SALT_COL).agg(
        F.max_by("__p", F.col("__o")).alias("__p"), F.max("__o").alias("__o")
    )
    final = partial.groupBy(*keys).agg(F.max_by("__p", F.col("__o")).alias("__p"))
    return final.select(*[F.col(f"__p.{c}").alias(c) for c in payload_cols])


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salt: int = 16,
    how: str = "inner",
    entropy: Column | None = None,
) -> DataFrame:
    """Skew-proof equi-join: salt the big side, REPLICATE the small side.

    A hot join key sends all its big-side rows to one reducer in a
    plain shuffle join. Here the big side gets a deterministic salt in
    [0, n_salt) (content hash — replay-stable, see :func:`with_salt`),
    the small side is exploded ``n_salt``× with every salt value, and
    the join key becomes (keys..., salt): a hot key's rows spread over
    ``n_salt`` reducers, each holding its own copy of the matching
    small rows. Output is row-identical to ``big.join(small, on, how)``
    for ``inner``/``left`` (each big row matches exactly its one
    salt's replica).

    Cost: small side shuffles ``n_salt``× its size — use when the
    small side is too big to broadcast but far smaller than the big
    side's hot keys (the gap AQE's skew-join handles only partially,
    since AQE splits a skewed partition but still materializes it
    first). This is the join-side twin of :func:`salted_latest`.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    key_list = list(on)
    big_salted = with_salt(big, n_salt, entropy=entropy)
    replicas = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    joined = big_salted.join(replicas, on=[*key_list, SALT_COL], how=how)
    return joined.drop(SALT_COL)
