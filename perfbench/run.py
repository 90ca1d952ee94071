#!/usr/bin/env python3
"""Engine benchmark launcher: one workload, one fresh process, one result.

    python3 perfbench/run.py --workload replay_hot --seed 1 --seconds 8 --trace 0

Run from the root of the source tree. The launcher pins the Spark
configuration itself (driver heap, local dirs, task threads) instead of
relying on the engine's ``session.py`` defaults, builds the workload's
inputs from ``--seed`` under ``.perfbench/``, measures the closed loop
for ``--seconds``, checks the outputs against an oracle, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same inputs with per-layer spans (see ``tracer.py``) and reports the
per-layer metrics. The line before the result records the host shape.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "3g"


def pin_environment(work: str, cpus: int) -> None:
    """Spark/JVM settings for every run, set before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": HEAP,
        # the engine default pre-touches a 16g heap, which cannot start on
        # a 15 GB host; pin a heap that fits, pre-touched the same way
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            f"-XX:ErrorFile={work}/hs_err_pid%p.log"
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, cpus: int):
    from data_ingestion_resolution_platform_spark.session import get_spark

    return get_spark(
        "perfbench",
        parallelism=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def host_shape(spark, cpus: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "spark_cpus": cpus,
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "driver_heap": HEAP,
        "java": jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "python": sys.version.split()[0],
    }


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        total_kb += int(ln.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 2**20


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import data_ingestion_resolution_platform_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.metrics import END_TO_END, PER_LAYER, end_to_end, per_layer
    from perfbench.tracer import Tracer, install
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} ({', '.join(WORKLOADS)})",
              file=sys.stderr)
        return 2
    cpus = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work, cpus)

    t0 = time.perf_counter()
    spark = start_session(work, cpus)
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark)
    uninstall = install(tracer) if args.trace else (lambda: None)
    ctx = Ctx(spark, work, args.seed, args.seconds, bool(args.trace), cpus, tracer)
    ctx.setup["setup.session"] = session_s
    host = host_shape(spark, cpus)
    try:
        WORKLOADS[args.workload](ctx)
        setup_s = ctx.window_start - T_START
        check_s = time.perf_counter() - ctx.window_end
        rss = tree_peak_rss_mb()
        if args.trace:
            tracer.collect_job_counts()
            ctx.extra["lake.mb"] = dir_mb(ctx.warehouse) if os.path.isdir(ctx.warehouse) else 0.0
            uninstall()
            if ctx.after_stop is not None:
                # a new SparkContext on the same (warm) JVM
                spark.stop()
                spark = start_session(work, 1)
                ctx.after_stop(spark)
        stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = per_layer(ctx, tracer.spans)
        units = {k: PER_LAYER[k][0] for k in metrics}
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"host": host, "ops": ctx.ops, "spans": tracer.spans}, f)
    else:
        metrics = end_to_end(ctx, setup_s, rss)
        units = END_TO_END
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed,
                      "wrong_results": ctx.wrong,
                      "setup": {k: round(v, 3) for k, v in ctx.setup.items()},
                      "window_s": round(ctx.window_end - ctx.window_start, 3),
                      "check_s": round(check_s, 3),
                      "op_s": [[o["name"], round(o["s"], 4)] for o in ctx.ops]}))
    print(json.dumps({
        "correct": not ctx.wrong,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
