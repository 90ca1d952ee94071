#!/usr/bin/env python3
"""CLI driver for the CDC pipeline — the ``spark-submit`` deployment
surface::

    spark-submit --master <cluster> --py-files dirp.zip \
        scripts/run_pipeline.py --feed /data/feed --warehouse /data/wh \
        --mode stream --trigger 10

Modes:
- ``stream``: tail the feed directory continuously (processing-time
  trigger) or drain the backlog once (``--available-now``).
- ``replay``: bounded batch replay of the whole feed in N epochs.
- ``status``: print committed epochs + lineage/conflict/target counts.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="CDC pipeline driver")
    ap.add_argument("--feed", required=True, help="change-feed parquet directory")
    ap.add_argument("--warehouse", required=True, help="lake warehouse root")
    ap.add_argument("--mode", choices=["stream", "replay", "status"], default="stream")
    ap.add_argument("--trigger", type=float, default=None, help="processing-time trigger seconds")
    ap.add_argument("--available-now", action="store_true", help="drain backlog then stop")
    ap.add_argument("--epochs", type=int, default=4, help="replay epoch count")
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--buckets", type=int, default=32, help="target table initial hash buckets")
    ap.add_argument("--max-bucket-mb", type=int, default=256,
                    help="bucket split threshold (linear-hashing growth)")
    ap.add_argument("--rename", action="append", default=[], metavar="FEED=CANON",
                    help="schema-evolution rename mapping (repeatable)")
    ap.add_argument("--maintain-stats", action="store_true",
                    help="keep the incrementally-maintained per-repo metrics table")
    ap.add_argument("--maintain-history", action="store_true",
                    help="keep an SCD2 history table alongside the LWW target")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F  # noqa: F401

    from data_ingestion_resolution_platform_spark.session import get_spark
    from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

    spark = get_spark("dirp_pipeline", parallelism=args.parallelism)
    renames = dict(kv.split("=", 1) for kv in args.rename)
    pipe = CDCPipeline(
        spark, feed_dir=args.feed, warehouse=args.warehouse,
        renames=renames, n_buckets=args.buckets,
        max_bucket_bytes=args.max_bucket_mb << 20,
        maintain_stats=args.maintain_stats,
        maintain_history=args.maintain_history,
    )

    if args.mode == "status":
        out = {
            "committed_epochs": pipe.target.committed_epochs(),
            "target_rows": pipe.target.read().count() if pipe.target.exists() else 0,
            "conflict_rows": pipe.conflicts.read().count() if pipe.conflicts.exists() else 0,
            "lineage_rows": pipe.lineage.read().count() if pipe.lineage.exists() else 0,
        }
        print(json.dumps(out))
        return 0

    if args.mode == "replay":
        feed = spark.read.parquet(args.feed)
        stats = pipe.replay_bounded(feed, epochs=args.epochs)
        print(json.dumps({"mode": "replay", "epochs": stats}))
        return 0

    q = pipe.run_stream(
        available_now=args.available_now or args.trigger is None,
        trigger_seconds=args.trigger,
    )
    q.awaitTermination()
    print(json.dumps({"mode": "stream", "lastProgress": q.lastProgress}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
