"""Per-layer spans for the traced run, recorded from outside the engine.

``install`` wraps the engine's public layer functions (the pipeline's
imported ``resolve_and_detect``/``lineage_rows``/``reconcile_exprs``,
the lake tables' ``append``/``merge``, and the maintained-view
operators). While the tracer is enabled, every call
opens a span (name, start, end, parent, epoch) and runs under its own
Spark job group, so the jobs and tasks each layer starts can be read
back from ``statusTracker`` after the run. Spans stay in memory; the
run writes them out once it has finished measuring.

The audit appends run on a ``ThreadPoolExecutor`` inside
``process_batch``. Job groups are per-thread local properties, so each
wrapper sets the group on the thread that makes the call, and a span
opened on a thread with no open span of its own hangs under the
current operation.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self.root: int | None = None
        self.epoch = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its record (``None`` when disabled)
        so the caller can attach counts."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "name": name,
            "parent": stack[-1] if stack else self.root,
            "epoch": self.epoch,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        rec["idx"], rec["group"] = idx, f"s{idx}:{name}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def op(self, name: str, epoch, traced: bool):
        """One measured operation of the closed loop: the root span that
        every layer span of this operation hangs under."""
        if not traced:
            yield None
            return
        self.enabled, self.epoch = True, epoch
        try:
            with self.span(name) as rec:
                self.root = rec["idx"]
                yield rec
        finally:
            self.root = None
            self.enabled = False

    def gc_seconds(self) -> float:
        """Total JVM garbage-collection time so far (GC MXBeans)."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def collect_job_counts(self) -> None:
        """Attach Spark job/task counts to every span (after the run:
        statusTracker lookups are py4j round trips)."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            if rec["group"] is None:
                continue
            jobs = st.getJobIdsForGroup(rec["group"])
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si:
                        tasks += si.numTasks
                        failed += si.numFailedTasks
            rec.update(jobs=len(jobs), tasks=tasks, tasks_failed=failed)


def _bytes_since(root: str, since_wall: float) -> int:
    """Bytes of parquet files under ``root`` written after ``since_wall``."""
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                if st.st_mtime >= since_wall:
                    total += st.st_size
    return total


def install(tracer: Tracer):
    """Wrap the engine's layer functions; returns an ``uninstall``
    callable that restores the originals."""
    from data_ingestion_resolution_platform_spark.operators import cdc, ivm, scd, sketch
    from data_ingestion_resolution_platform_spark.sources import lake
    from data_ingestion_resolution_platform_spark.streaming import pipeline

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, name_of, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            wall0 = time.time()
            with tracer.span(name_of(*args, **kwargs)) as rec:
                out = orig(*args, **kwargs)
            if after is not None and rec is not None:
                after(rec, out, wall0, *args)
            return out

        setattr(owner, attr, wrapper)
        saved.append((owner, attr, orig))

    def const(name):
        return lambda *a, **k: name

    def append_name(table, df, epoch_id=None, *a, **k):
        kind = os.path.basename(table.root)
        if kind == "conflicts":
            return "audit.conflicts"
        if kind == "lineage":
            return "audit.lineage" if str(epoch_id).startswith("l") else "status.write"
        return "lake.append"

    def topk_name(*args, **kwargs):
        eid = str(kwargs.get("epoch_id", args[7] if len(args) > 7 else ""))
        return {"t": "view.leaderboard", "q": "view.quantiles"}.get(eid[:1], "view.topk")

    def merge_counts(rec, out, wall0, table, *a):
        if isinstance(out, dict) and not out.get("skipped"):
            for k in ("touched_buckets", "written_buckets", "splits"):
                rec[k] = out.get(k, 0)
            rec["bytes_written"] = _bytes_since(table.root, wall0)

    patch(pipeline, "resolve_and_detect", const("resolve.plan"))
    patch(pipeline, "lineage_rows", const("lineage.plan"))
    patch(pipeline, "reconcile_exprs", const("reconcile"))
    patch(cdc.ResolvedBatch, "conflict_key_count", const("status.count"))
    patch(lake.LakeTable, "append", append_name)
    patch(lake.LakeTable, "merge", const("lake.merge"))
    patch(lake.PartitionedLakeTable, "merge", const("merge"), merge_counts)
    patch(ivm, "maintain_aggregate", const("view.stats"))
    patch(ivm, "maintain_join", const("view.join"))
    patch(ivm, "maintain_topk", topk_name)
    patch(sketch, "maintain_cms", const("view.freq"))
    patch(scd, "historize_epoch", const("view.history"))

    def uninstall() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children on pool threads may overlap; their union is subtracted)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out.append(s["end"] - s["start"] - covered)
    return out
