#!/usr/bin/env python3
"""Self-check harness: replicate the driver's Spark-vs-DuckDB compare.

For every entry in ``queries()`` with an ``oracle_sql()`` twin, run both at
sf0.01, compare row count, sorted-column schema, and a value hash computed
the same way the driver plausibly does (sort columns by name, sort rows,
round floats, hash the CSV text). Prints one line per query.
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as E
    from data_ingestion_resolution_platform_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    # Spark session is pinned to UTC (session.py); pin DuckDB the same
    # way so timestamp-constructing oracles agree on any host timezone.
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sorted(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = sorted(d[0] for d in res.description)
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        ok_cols = scols == dcols
        ok_count = len(srows) == len(drows)
        sh = table_hash(sdf.columns, srows)
        dh = table_hash([d[0] for d in res.description], drows)
        ok_hash = sh == dh
        status = "OK   " if (ok_cols and ok_count and ok_hash) else "FAIL "
        if status.startswith("FAIL"):
            failures += 1
            print(f"{status} {name}: cols={ok_cols} count={ok_count} ({len(srows)} vs {len(drows)}) hash={ok_hash}")
            if not ok_cols:
                print(f"      spark cols: {scols}")
                print(f"      duck  cols: {dcols}")
            if ok_cols and ok_count and not ok_hash:
                # show first differing row
                order_s = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
                order_d = sorted(range(len(dcols)), key=lambda i: sorted(d[0] for d in res.description)[i])
                dco = [d[0] for d in res.description]
                order_d = sorted(range(len(dco)), key=lambda i: dco[i])
                s_lines = sorted("\x1f".join(canon(r[i]) for i in order_s) for r in srows)
                d_lines = sorted("\x1f".join(canon(r[i]) for i in order_d) for r in drows)
                for a, b in zip(s_lines, d_lines):
                    if a != b:
                        print(f"      spark: {a[:200]}")
                        print(f"      duck : {b[:200]}")
                        break
        else:
            print(f"{status} {name}: {len(srows)} rows hash={sh}")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
