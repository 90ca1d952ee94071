"""SparkSession factory tuned for this engine.

Local mode here, but every knob is chosen for cluster behavior: AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for any
pandas-UDF path, shuffle partitions sized to the parallelism level rather
than the 200 default.

Object-store deployment (reference S3 source/sink,
`/root/reference/backend/services/storage.py:13-21`): every reader/
writer in ``sources/`` is path-agnostic, so pointing feeds and lake
roots at ``s3a://bucket/prefix`` is a config-only change. This sandbox
has no object store or network for the hadoop-aws jar, so the standard
public configuration is documented here rather than exercised::

    spark-submit --packages org.apache.hadoop:hadoop-aws:<hadoop-ver> ...
    spark.hadoop.fs.s3a.aws.credentials.provider=
        org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider
    spark.hadoop.fs.s3a.committer.name=magic   # S3-safe task commit
    spark.sql.sources.commitProtocolClass uses the S3A committer factory

The epoch-ledger / versioned-pointer commit protocol in
``sources/lake.py`` assumes only atomic single-object PUT (rename-free
on the data path; the ``_DIR``/``_LATEST`` pointer swap maps to an
S3 conditional PUT or a DynamoDB-style pointer on a real deployment).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _env_conf_pairs(env_conf: str) -> list[tuple[str, str]]:
    """Parse ``SPARK_GRAFT_EXTRA_CONF``-style "k=v;k=v" into conf pairs.

    Empty segments are skipped; values may contain ``=`` (only the
    first splits); whitespace around keys/values is stripped."""
    out = []
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, sep, v = pair.partition("=")
        if sep and k.strip():
            out.append((k.strip(), v.strip()))
    return out


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: ``min(16g, MemTotal / 2)``.

    The heap is pre-touched at JVM start (below), so it must fit the
    host with room for the Python side: a fixed 16g cannot start a JVM
    on a 15 GB machine. Falls back to 16g where ``meminfo`` is
    unreadable (non-Linux hosts)."""
    cap_mb = 16 << 10
    try:
        with open(meminfo) as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, IndexError, ValueError):
        return "16g"
    return f"{min(cap_mb, total_kb // 2048)}m"


def get_spark(
    app_name: str = "dirp_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``parallelism`` sets ``local[N]``; defaults to ``$SPARK_GRAFT_CPUS``
    or all cores. ``master`` overrides entirely (e.g.
    ``local-cluster[4,6,8192]`` for multi-executor-JVM scaling probes,
    or a real cluster URL). Shuffle partitions default to the
    parallelism level: on a real cluster this would instead be ~2-3x
    total executor cores, and AQE coalesces small post-shuffle
    partitions either way.
    """
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        # Pre-size and pre-touch the heap: without this the JVM grows the
        # heap DURING the workload and the kernel zeroes pages on first
        # touch — measured 60-70% system time with 24 executor threads
        # faulting concurrently (zone-lock contention), which inverted
        # the high-parallelism benchmarks. Pre-touch moves page zeroing
        # to JVM startup, outside any measured window; the host-sized
        # default heap keeps it startable.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # write timestamps as TIMESTAMP_MICROS, not the legacy INT96:
        # INT96 columns carry NO parquet min/max statistics, which
        # blinds both row-group pushdown and the manifest-style file
        # pruning in sources/skipping.py (and Iceberg forbids INT96)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    # env-driven conf overrides (e.g. codec experiments through bench
    # subprocesses): SPARK_GRAFT_EXTRA_CONF="k=v;k=v". Explicit
    # ``extra_conf`` arguments win over the environment.
    for k, v in _env_conf_pairs(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")):
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
