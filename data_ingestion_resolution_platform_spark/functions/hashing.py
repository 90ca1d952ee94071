"""Content hashing / sketching functions — pure Column expressions.

The north-rule invariant (BASELINE.json input_hint) is per-row
``sha256(content)`` equality; ``content_sha256`` is the canonical
implementation via Spark's built-in ``sha2``. Shingle arrays, LSH
band hashes and the portable polynomial hashes are built from
built-in and higher-order array functions — everything stays JVM-side
(no Python per row), which is what lets these run over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Large prime < 2^31 for cheap universal-hash mixing without overflow
# worries in 64-bit arithmetic.
_MERSENNE31 = (1 << 31) - 1


def content_sha256(col: Column) -> Column:
    """Per-row sha256 hex digest of a string/binary column.

    Cross-engine row-equality invariant (reference parity check):
    identical bytes ⇒ identical digest in Spark, DuckDB, Python.
    """
    return F.sha2(col.cast("string"), 256)


def shingles(text: Column, k: int = 5) -> Column:
    """Distinct word-k-gram shingle array for a text column.

    Tokenizes on non-alphanumeric runs (lowercased), then slides a
    k-token window via ``transform`` over token indices — all built-in
    higher-order functions, no UDF.
    """
    toks = F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )
    # Short docs (< k tokens) get their whole token string as one shingle.
    return F.array_distinct(
        F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def portable_poly_hash(col: Column, base: int = 131, mod: int = _MERSENNE31) -> Column:
    """Char-level polynomial rolling hash, identical in Spark / DuckDB /
    Python: ``fold(chars, 0, (acc, c) -> (acc*base + ascii(c)) % mod)``.

    Weaker mixing than xxhash64 but engine-portable — the property the
    DuckDB oracle gate needs. acc < 2^31 and base ≤ 2^31 keep every
    intermediate < 2^62 (no int64 overflow in either engine). The empty
    string hashes to 0 in both engines (Spark split('','') yields ['']
    with ascii('') = 0; DuckDB folds an empty char list).
    """
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % mod,
    )


def portable_hash62(col: Column) -> Column:
    """62-bit portable hash: two independent polynomial hashes packed
    as ``h1 | (h2 << 31)`` (bits 0-30 and 31-61; top 2 bits always 0 —
    constant across rows, so SimHash majorities/hammings are unaffected).
    """
    h1 = portable_poly_hash(col, 131)
    h2 = portable_poly_hash(col, 137)
    return h1.bitwiseOR(F.shiftleft(h2, 31))


def minhash_bands(sig: Column, num_bands: int = 8, rows_per_band: int = 4) -> Column:
    """LSH banding: array of (band_id, band_hash) structs.

    Docs sharing any band bucket become near-dup candidates; the
    band hash is xxhash64 of the concatenated band slice.
    """
    bands = []
    for band in range(num_bands):
        lo = band * rows_per_band + 1  # slice() is 1-indexed
        band_slice = F.slice(sig, lo, rows_per_band)
        bands.append(
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(F.concat_ws(",", F.transform(band_slice, lambda v: v.cast("string")))).alias(
                    "bucket"
                ),
            )
        )
    return F.array(*bands)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHash values."""
    return F.bit_count(a.bitwiseXOR(b))
