"""Env-driven SparkSession conf overrides (SPARK_GRAFT_EXTRA_CONF)."""

from __future__ import annotations

from data_ingestion_resolution_platform_spark.session import (
    _default_driver_memory,
    _env_conf_pairs,
)


def test_env_conf_pairs_basic():
    assert _env_conf_pairs(
        "spark.sql.parquet.compression.codec=zstd;spark.io.compression.codec=zstd"
    ) == [
        ("spark.sql.parquet.compression.codec", "zstd"),
        ("spark.io.compression.codec", "zstd"),
    ]


def test_env_conf_pairs_edges():
    assert _env_conf_pairs("") == []
    assert _env_conf_pairs(" ; ;") == []
    # value may itself contain '='; whitespace stripped
    assert _env_conf_pairs(" a.b = x=y ; ") == [("a.b", "x=y")]
    # key-less segments are dropped rather than producing ('', v)
    assert _env_conf_pairs("=v;k=1") == [("k", "1")]


def test_default_driver_memory_fits_host(tmp_path):
    # half of MemTotal on a host smaller than 32 GB: a pre-touched 16g
    # heap cannot start on a 15 GB machine
    small = tmp_path / "meminfo_small"
    small.write_text("MemTotal:       16479424 kB\nMemFree:  1 kB\n")
    assert _default_driver_memory(str(small)) == "8046m"
    # capped at 16g on big hosts
    big = tmp_path / "meminfo_big"
    big.write_text("MemTotal:      131072000 kB\n")
    assert _default_driver_memory(str(big)) == "16384m"
    # unreadable meminfo (non-Linux host): the historical 16g default
    assert _default_driver_memory(str(tmp_path / "missing")) == "16g"


# the largest generated-code working set measured: the distinct classes
# of one whole stream_views perfbench run (session.py's docstring)
MEASURED_CODEGEN_WORKING_SET = 561


def test_codegen_cache_holds_the_working_set(spark):
    # Spark's default cap of 100 evicts an epoch's classes before the
    # next epoch asks for them again; a cap of 0 disables the cache. The
    # cache is a JVM-wide singleton sized at the JVM's first code
    # generation, so a later get_spark(extra_conf=...) on this running
    # JVM could not resize it: what get_spark sets here is what the
    # whole process runs with.
    cap = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert cap >= MEASURED_CODEGEN_WORKING_SET
