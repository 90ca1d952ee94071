"""Pre-flight for the driver's correctness gate: run every registry
query on Spark AND its DuckDB oracle at sf0.001, compare row count,
column names, and order-insensitive values (the driver does the same
at sf0.01)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v)
    return str(v) if v is not None else "\x00NULL"


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    from pyspark.sql import types as T

    sdf = QUERIES[name](spark, SF_DIR)
    # Registry lint (VERDICT r3 #1): the driver's pandas canonicalizer
    # sort_values() crashes on list/dict cells, so no COMPARED output
    # column may be a nested type — emit array_join/to_json instead.
    nested = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not nested, (
        f"{name}: nested-type output columns break the driver's "
        f"canonicalizer (unhashable list cells): {nested}"
    )
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = ddb.sql(ORACLES[name])
    d_cols = rel.columns
    d_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    s_canon = _canon(s_rows, s_cols)
    d_canon = _canon(d_rows, d_cols)
    mism = [i for i, (a, b) in enumerate(zip(s_canon, d_canon)) if a != b][:3]
    assert s_canon == d_canon, f"{name}: first mismatches at {mism}: " + "; ".join(
        f"spark={s_canon[i]} duck={d_canon[i]}" for i in mism
    )


def test_every_query_has_an_oracle_twin():
    # a query without a DuckDB twin would run unchecked by the oracle test
    assert sorted(set(QUERIES) - set(ORACLES)) == []


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
