"""Deduplication operator family for training-data pipelines.

All variants are declarative DataFrame plans designed for 100 TB:

- **exact**: hash-groupBy on sha256(text) — one shuffle on a short
  digest key (never the raw text), map-side partial aggregation.
- **MinHash + LSH**: shingle → signature → band buckets → self-join on
  (band, bucket). The candidate join keys are 16-byte hashes, so
  shuffle volume is O(docs × bands), independent of text size.
- **SimHash**: 64-bit fingerprint; near-dup = hamming ≤ r within
  LSH-style chunks (4×16-bit chunk buckets ⇒ any pair within hamming 3
  of each other shares ≥1 chunk — pigeonhole).
- **n-gram Jaccard**: exact verification on candidate pairs (or a
  bounded blocking key for small inputs).
- **embedding cosine**: near-dup via quantized-cosine ≥ threshold on
  LSH/blocked candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.functions.hashing import (
    _MERSENNE31 as _M31,
    content_sha256,
    hamming64,
    portable_hash62,
    portable_poly_hash,
    shingles,
)

# LCG multiplier reused as the band-bucket / seed-walk mixer (portable
# mode): acc*MUL stays < 2^62 for acc < 2^31.
_MIX = 1_103_515_245


def plane_salt(table: int, plane: int, seed: int) -> int:
    """Per-(table, plane) salt for portable hyperplane signs — shared
    with the generated DuckDB oracle SQL."""
    return table * 7_919 + plane * 104_729 + seed * 15_485_863
from data_ingestion_resolution_platform_spark.functions.vectors import (
    portable_sign,
    quantize_vector,
    quantized_cosine,
)
from data_ingestion_resolution_platform_spark.util import ensure_parallelism, reuse_for_self_join


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups: one row per distinct content hash with the
    keeper id (min id), copy count, and the hash. Shuffles only
    (hash, id) — content never crosses the wire."""
    return (
        df.select(F.col(id_col), content_sha256(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_exact_keep(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-dedup filter: returns the surviving rows (keeper per hash)."""
    keepers = dedup_exact(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


def minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 5,
    num_hashes: int = 32,
    num_bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """LSH band-bucket table ``(doc, band, bucket)`` for each document —
    the shared signature stage of :func:`minhash_candidates` (batch
    self-join) and :func:`incremental_minhash_epoch` (index join).
    See :func:`minhash_candidates` for the plan-shape discussion.
    """
    rows_per_band = num_hashes // num_bands
    df = ensure_parallelism(df)
    # Explode-based signature computation: one (doc, shingle-hash) row
    # per shingle, then num_hashes `min` aggregates in a single groupBy.
    # An array-expression form (array_min(transform(shingles, h_i)) per
    # hash function) would re-inline the whole shingle pipeline once per
    # hash function — 32x duplicated codegen; this shape computes
    # shingles exactly once and is also the 100 TB plan (no giant
    # arrays in memory).
    sh_hash = (
        portable_poly_hash(F.col("sh"))
        if portable
        else F.pmod(F.xxhash64("sh"), F.lit(_M31))
    )
    base = df.select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), k_shingle)).alias("sh"),
    ).select("doc", sh_hash.alias("h"))
    a, b = _MIX, 12_345
    aggs = []
    for i in range(num_hashes):
        ai = (a * (2 * i + 1)) % _M31
        bi = (b * (i + 7)) % _M31
        aggs.append(F.min(F.pmod(F.col("h") * ai + bi, F.lit(_M31))).alias(f"mh{i}"))
    sigs = base.groupBy("doc").agg(*aggs)
    band_structs = []
    for band in range(num_bands):
        if portable:
            bucket = F.lit(0).cast("long")
            for j in range(rows_per_band):
                bucket = (bucket * _MIX + F.col(f"mh{band * rows_per_band + j}")) % _M31
        else:
            members = [
                F.col(f"mh{band * rows_per_band + j}").cast("string")
                for j in range(rows_per_band)
            ]
            bucket = F.xxhash64(F.concat_ws(",", *members))
        band_structs.append(
            F.struct(F.lit(band).alias("band"), bucket.alias("bucket"))
        )
    return sigs.select("doc", F.explode(F.array(*band_structs)).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 5,
    num_hashes: int = 32,
    num_bands: int = 8,
    portable: bool = False,
) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b, n_shared_bands).

    Plan shape: docs → signatures (narrow) → explode bands (×bands) →
    self-join on (band, bucket) — an equi-join Catalyst shuffles on a
    compact long key. Buckets with huge membership (boilerplate) are
    the skew risk: cap via ``spark.sql.adaptive.skewJoin`` + an
    optional bucket-size guard upstream.

    ``portable=True`` swaps the per-shingle xxhash64 and the band-bucket
    hash for engine-portable polynomial arithmetic so a DuckDB oracle
    can reproduce the exact output (the driver correctness gate).
    Slightly weaker hash mixing — prefer the default for production.
    """
    banded = minhash_bands(
        df, text_col, id_col, k_shingle, num_hashes, num_bands, portable
    )
    # tiny (docs x bands) frame, expensive lineage: materialize once so
    # the self-join below doesn't run the shingle pipeline twice
    banded = reuse_for_self_join(banded)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .groupBy(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return pairs


def ngram_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.4,
    block_expr=None,
) -> DataFrame:
    """Exact token-set Jaccard over blocked candidate pairs.

    ``block_expr`` (default: n_chars//100 bucket) bounds the self-join;
    at scale this is the *verify* stage after MinHash candidates, not a
    standalone all-pairs scan. Jaccard = |∩| / |∪| on distinct lowered
    tokens — integer sizes, exact division, cross-engine deterministic.
    """
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit(""))
    )
    block = block_expr if block_expr is not None else (F.length(F.col(text_col)) / 100).cast("int")
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), toks.alias("toks"), block.alias("blk")
    )
    base = reuse_for_self_join(base)
    l, r = base.alias("l"), base.alias("r")
    inter = F.size(F.array_intersect(F.col("l.toks"), F.col("r.toks")))
    union = F.size(F.array_distinct(F.concat(F.col("l.toks"), F.col("r.toks"))))
    return (
        l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.doc") < F.col("r.doc")))
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dups: block on 16-bit chunks, verify with bit_count.

    Recall bound (pigeonhole over 4 chunks of the 64-bit signature): any
    pair within hamming ≤ 3 is GUARANTEED to share a chunk; pairs at
    hamming 4..max_hamming are reported only when their differing bits
    happen to cluster outside one chunk — so calls with
    ``max_hamming > 3`` are approximate by design (full recall would
    need 8-bit chunks / multi-probe). State the bound at the call site.

    Signature computed explode-style (like MinHash above): one groupBy
    with 64 bit-majority aggregates over per-shingle hash rows —
    single codegen'd aggregation, scales to any corpus size.
    ``portable=True`` uses the 62-bit polynomial hash (top 2 bits
    constant — they never affect majorities or hamming) so a DuckDB
    oracle can replicate the output exactly.
    """
    sh_hash = portable_hash62(F.col("s")) if portable else F.xxhash64("s")
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(F.col(text_col), 3)).alias("s"),
    ).select("doc", sh_hash.alias("h"))
    bit_aggs = [
        F.sum(F.shiftright("h", bit).bitwiseAND(F.lit(1)).cast("long")).alias(f"b{bit}")
        for bit in range(64)
    ] + [F.count(F.lit(1)).alias("n")]
    counts = base.groupBy("doc").agg(*bit_aggs)
    sim = F.lit(0).cast("long")
    for bit in range(64):
        sim = sim.bitwiseOR(
            F.shiftleft((F.col(f"b{bit}") * 2 > F.col("n")).cast("long"), bit)
        )
    sh = counts.select("doc", sim.alias("sh"))
    chunks = sh.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright(F.col("sh"), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc", "sh", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk").alias("chunk"))
    chunks = reuse_for_self_join(chunks)
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            hamming64(F.col("l.sh"), F.col("r.sh")).cast("long").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int = 6,
    n_tables: int = 4,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Embedding near-dup via multi-table random-hyperplane LSH blocking
    + exact quantized-cosine verification.

    Standard LSH recall amplification: ``n_tables`` independent
    ``n_planes``-bit signatures; a pair is a candidate if it collides in
    ANY table (OR over tables), then candidates are verified exactly.
    Hyperplanes are deterministic pseudo-random (hash of
    (table, plane, dim)), built as column expressions — no driver-side
    numpy state; candidate generation is a bucket equi-join (shuffle on
    (table, bucket)), never a cross join. ``portable=True`` derives the
    hyperplane signs by integer mixing (vectors.portable_sign) so a
    DuckDB oracle reproduces the exact buckets.
    """
    q = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), quantize_vector(F.col(vec_col)).alias("qv")
    )

    # sign bit per (table, plane): dot(v, plane) >= 0 where plane
    # components are ±1 chosen by xxhash64(dim, table, plane, seed)
    def plane_term(t: int, p: int):
        if portable:
            return lambda x, i: x * portable_sign(i, plane_salt(t, p, seed))
        return lambda x, i: x * F.when(
            F.pmod(F.xxhash64(i, F.lit(t), F.lit(p), F.lit(seed)), F.lit(2)) == 0, F.lit(1)
        ).otherwise(F.lit(-1))

    idx = F.sequence(F.lit(0), F.size(F.col("qv")) - 1)
    buckets = []
    for t in range(n_tables):
        sig = F.lit(0).cast("long")
        for p in range(n_planes):
            dot = F.aggregate(
                F.zip_with(F.col("qv"), idx, plane_term(t, p)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            sig = sig.bitwiseOR(F.shiftleft((dot >= 0).cast("long"), p))
        buckets.append(F.struct(F.lit(t).alias("tbl"), sig.alias("bucket")))
    blocked = q.select(
        "doc", "qv", F.explode(F.array(*buckets)).alias("b")
    ).select("doc", "qv", F.col("b.tbl").alias("tbl"), F.col("b.bucket").alias("bucket"))
    blocked = reuse_for_self_join(blocked)
    l, r = blocked.alias("l"), blocked.alias("r")
    return (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            quantized_cosine(F.col("l.qv"), F.col("r.qv")).alias("cosine"),
        )
        .distinct()
        .filter(F.col("cosine") >= threshold)
    )
