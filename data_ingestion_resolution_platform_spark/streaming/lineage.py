"""Per-batch, per-partition lineage/metrics emission.

The reference tracks per-job counters on the Application row
(`/root/reference/backend/models.py:25-28`: total/valid/invalid rows,
conflict_count) plus a status state machine. Our analogue: every
micro-batch appends one lineage row per *input partition* — offsets
(min/max LSN), row counts by op, validity counts, conflict tallies —
to a lineage table, enabling resume-from-checkpoint audits and
progress monitoring without touching the data tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_resolution_platform_spark.util import local_df

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_inserts", T.LongType(), False),
        T.StructField("n_updates", T.LongType(), False),
        T.StructField("n_deletes", T.LongType(), False),
        T.StructField("min_lsn", T.LongType(), True),
        T.StructField("max_lsn", T.LongType(), True),
        T.StructField("n_conflicts", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def epoch_summary(spark, epoch: int, status: str, n_conflicts: int) -> DataFrame:
    """One epoch-level status row (partition_id = -1): the reference's
    job status machine (M7, `constants.py:3-8`) — PROCESSING epochs end
    COMPLETED / NEEDS_REVIEW / FAILED. Consumers filter
    ``partition_id == -1`` for status history."""
    # JVM VALUES relation (util.local_df): one status row per epoch is
    # driver metadata; don't fork the Python worker pool to carry it
    return local_df(
        spark,
        [(epoch, -1, 0, 0, 0, 0, None, None, n_conflicts, status)],
        LINEAGE_SCHEMA,
    )


def status_history(lineage: DataFrame) -> DataFrame:
    """One status row per epoch from the append-only lineage table.

    Summary rows are ``partition_id == -1``; an epoch may carry several
    under at-least-once redelivery (a FAILED attempt followed by a
    successful retry's COMPLETED/NEEDS_REVIEW). The state machine (M7,
    reference `constants.py:3-8`) only ever leaves FAILED — a COMPLETED
    epoch is ledger-skipped on redelivery and can never regress — so the
    terminal state per epoch is the max-priority row: any non-FAILED
    summary wins over FAILED.
    """
    s = lineage.filter(F.col("partition_id") == -1)
    prio = F.when(F.col("status") == "FAILED", F.lit(0)).otherwise(F.lit(1))
    staged = s.withColumn(
        "__p", F.struct(F.col("status"), F.col("n_conflicts"))
    ).withColumn("__prio", prio)
    return (
        staged.groupBy("epoch")
        .agg(F.max_by("__p", F.col("__prio")).alias("__p"))
        .select("epoch", F.col("__p.status").alias("status"), F.col("__p.n_conflicts").alias("n_conflicts"))
    )


def lineage_rows(batch: DataFrame, epoch: int, lsn_col: str = "lsn") -> DataFrame:
    """One row per input partition: offsets + op counts.

    Computed with a single partial-aggregating groupBy on
    ``spark_partition_id()`` — no extra shuffle of the payload (the
    aggregation input is already partition-local).
    """
    return (
        batch.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("op") == "I").cast("long")).alias("n_inserts"),
            F.sum((F.col("op") == "U").cast("long")).alias("n_updates"),
            F.sum((F.col("op") == "D").cast("long")).alias("n_deletes"),
            F.min(lsn_col).alias("min_lsn"),
            F.max(lsn_col).alias("max_lsn"),
        )
        .select(
            F.lit(epoch).cast("long").alias("epoch"),
            F.col("partition_id").cast("int"),
            "n_rows",
            "n_inserts",
            "n_updates",
            "n_deletes",
            "min_lsn",
            "max_lsn",
            F.lit(None).cast("long").alias("n_conflicts"),
            F.lit("COMMITTED").alias("status"),
        )
    )
