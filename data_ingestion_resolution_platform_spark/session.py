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

Generated-code cache. Spark compiles every whole-stage and expression
class with Janino and keeps the compiled classes in an LRU cache capped
by ``spark.sql.codegen.cache.maxEntries`` (Spark's default, 100). A
micro-batch engine re-runs the same plan shapes every epoch, so a cache
smaller than its working set evicts each epoch's classes before the
next epoch asks for them again and every warm epoch recompiles. Counted
with :func:`codegen_compiles` on 4 vCPU (perfbench seed 11, uncapped
cache): a whole ``replay_hot`` run generates 178 distinct classes and a
whole ``stream_views`` run 561. At the cap of 100 a warm ``replay_hot``
epoch recompiled 63-74 classes; with the whole set cached the four
timed epochs compiled 25, 14, 4 and 4. What is still compiled is source
that changes between epochs: classes that inline the epoch number as a
constant, and classes that AQE numbers differently (whole-stage codegen
id, fresh-variable counters). ``get_spark`` sets the cap to 2048, the
smallest power of two at least twice the largest measured working set.

The cache is a JVM-wide singleton, sized from the session conf active
at the JVM's first code generation, and the cap is a static conf. A
later ``get_spark(extra_conf={"spark.sql.codegen.cache.maxEntries":
...})`` (or ``SPARK_GRAFT_EXTRA_CONF``) that reuses the running session
ignores it; one that builds a new session on the same JVM (after
``spark.stop()``) reports the new value while the cache keeps its first
size. Start a fresh JVM to resize it. A cap of 0 disables the cache.
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


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (cache misses of
    the generated-code cache): ``CodegenMetrics`` compilation count."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


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
        # hold the whole generated-code working set (module docstring):
        # 178 classes per replay_hot run, 561 per stream_views run,
        # against Spark's default cap of 100
        .config("spark.sql.codegen.cache.maxEntries", "2048")
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
