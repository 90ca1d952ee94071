#!/usr/bin/env python3
"""Plan audit: print physical-plan health markers for headline queries.

For each query: does the parquet scan carry PushedFilters / a pruned
ReadSchema, are small-side joins broadcast (no unexpected SortMergeJoin
/ CartesianProduct), and how much of the plan is inside
WholeStageCodegen. Quick eyeball tool — run after changing any plan.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def main():
    from data_ingestion_resolution_platform_spark.plans.queries import QUERIES
    from data_ingestion_resolution_platform_spark.session import get_spark

    spark = get_spark("explain_audit")
    for name, fn in QUERIES.items():
        if ONLY and name not in ONLY:
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"== {name}: ERROR {e}")
            continue
        markers = {
            "codegen_spans": len(re.findall(r"WholeStageCodegen", plan)),
            "bhj": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "cartesian": plan.count("CartesianProduct")
            + plan.count("BroadcastNestedLoopJoin"),
            "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
            "exchanges": plan.count("Exchange"),
            "expand": plan.count("Expand"),
        }
        flat = ", ".join(f"{k}={v}" for k, v in markers.items())
        print(f"== {name}: {flat}")
        for m in re.finditer(r"ReadSchema: struct<([^>]{0,120})", plan):
            print(f"   scan: {m.group(1)}")


if __name__ == "__main__":
    main()
