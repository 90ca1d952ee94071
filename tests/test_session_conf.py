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
