"""Incremental near-duplicate detection at ingest time.

Batch MinHash-LSH (``operators/dedup.py``) re-shingles and re-joins the
WHOLE corpus: at 100 TB that is a full-corpus pass per delivery. A CDC
ingest pipeline should instead maintain a **persisted LSH band-bucket
index** and, per epoch, touch only the changed documents:

1. compute band buckets for the epoch's inserted/updated docs only
   (|Δ| docs shingled, not the corpus);
2. candidate pairs = Δ-bands self-join (changed×changed) ∪ Δ-bands ⨝
   index-of-unchanged-docs (changed×existing) — the Δ side is
   per-epoch small, so Catalyst broadcasts it and the corpus-sized
   index never shuffles;
3. MERGE the index: replace updated docs' band arrays, insert new
   docs', delete tombstoned docs' — exactly-once via the lake's epoch
   ledger, so a re-delivered epoch neither duplicates pairs nor
   corrupts the index.

The emitted pairs for an epoch are exactly the full-recompute pairs
restricted to "at least one side changed this epoch" (an updated doc's
stale bands never participate: its index entry is excluded from the
unchanged side and replaced by the MERGE) — which is what the
DuckDB-oracled ``dedup_incremental`` registry query asserts.

Index layout: one row per doc, ``bands: array<struct<band,bucket>>``,
MERGE-keyed by doc — key-unique, compact, and the band explode happens
at read time. At true corpus scale, store it as a
``PartitionedLakeTable`` (hash-bucketed on doc) so the MERGE rewrites
only touched buckets; the read side is a scan + broadcast-hash join
(no shuffle) either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_resolution_platform_spark.operators.dedup import minhash_bands
from data_ingestion_resolution_platform_spark.sources.lake import (
    CHANGE_COL,
    DELETE,
    DELETE_COL,
    PREIMAGE,
    is_positive,
)
from data_ingestion_resolution_platform_spark.util import reuse_for_self_join


def _pack(bands: DataFrame) -> DataFrame:
    """(doc, band, bucket) rows → one index row per doc."""
    return bands.groupBy("doc").agg(
        F.sort_array(F.collect_list(F.struct("band", "bucket"))).alias("bands")
    )


def _explode(index_rows: DataFrame) -> DataFrame:
    return index_rows.select(
        "doc",
        F.explode("bands").alias("b"),
    ).select("doc", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))


def build_minhash_index(
    index,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    epoch_id: str | int | None = None,
    **mh,
) -> dict:
    """Bootstrap (or rebuild) the LSH index from a full snapshot."""
    packed = _pack(minhash_bands(docs, text_col, id_col, **mh))
    return index.merge(packed, ["doc"], epoch_id=epoch_id)


def incremental_minhash_epoch(
    index,
    changes: DataFrame,
    text_col: str,
    id_col: str,
    epoch_id: str | int | None = None,
    **mh,
) -> DataFrame:
    """Apply one CDF epoch to the LSH index and return the NEW candidate
    pairs it surfaces: ``(id_a, id_b, n_shared_bands)`` with id_a <
    id_b, exactly the pairs of the post-epoch corpus that involve at
    least one doc changed this epoch.

    ``changes`` is a standard change feed over documents (``insert`` /
    ``update_postimage`` / ``delete``; ``update_preimage`` rows are
    ignored — the index itself holds the before-state). The index MERGE
    rides ``epoch_id`` for exactly-once; the returned pair plan reads
    the *pre-epoch* index version plus the freshly computed Δ bands, so
    it stays valid and deterministic whether collected before or after
    the merge (time travel keeps the old version readable).
    """
    upserts = changes.filter(is_positive()).select(
        F.col(id_col), F.col(text_col)
    )
    changed_ids = (
        changes.filter(F.col(CHANGE_COL) != PREIMAGE)
        .select(F.col(id_col).alias("doc"))
        .distinct()
    )
    # Δ bands feed the self-join (×2), the index join, and the MERGE
    # batch — materialize once (|Δ| × bands rows)
    new_bands = reuse_for_self_join(minhash_bands(upserts, text_col, id_col, **mh))

    # changed × existing-unchanged: the big exploded index never
    # shuffles — Δ bands are the broadcast build side
    index.create(_pack(new_bands).schema)
    unchanged = _explode(
        index.read().join(F.broadcast(changed_ids), on="doc", how="left_anti")
    ).alias("r")
    l = F.broadcast(new_bands).alias("l")
    pairs = l.join(
        unchanged,
        (F.col("l.band") == F.col("r.band")) & (F.col("l.bucket") == F.col("r.bucket")),
    ).select(
        F.least("l.doc", "r.doc").alias("id_a"),
        F.greatest("l.doc", "r.doc").alias("id_b"),
    )
    # changed × changed: ordinary banded self-join over the small Δ
    l2, r2 = new_bands.alias("l"), new_bands.alias("r")
    cc = l2.join(
        r2,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l.doc") < F.col("r.doc")),
    ).select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
    pairs = pairs.unionByName(cc)
    out = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_shared_bands"))

    # advance the index: upsert Δ band arrays, drop tombstoned docs
    deletes = (
        changes.filter(F.col(CHANGE_COL) == DELETE)
        .select(F.col(id_col).alias("doc"))
        .distinct()
        .withColumn("bands", F.lit(None).cast("array<struct<band:int,bucket:long>>"))
        .withColumn(DELETE_COL, F.lit(True))
    )
    batch = _pack(new_bands).withColumn(DELETE_COL, F.lit(False)).unionByName(deletes)
    index.merge(batch, ["doc"], epoch_id=epoch_id)
    return out
