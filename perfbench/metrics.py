"""The benchmark's metrics: end-to-end (untraced runs) and per-layer
(traced runs, from the spans ``tracer.py`` records)."""

from __future__ import annotations

import statistics

from perfbench.tracer import self_times

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "epoch_s_p50": "s",
    "events_per_s": "1/s",
    "read_s_p50": "s",
    "peak_rss_mb": "MB",
}

VIEWS = ("stats", "join", "leaderboard", "freq", "quantiles", "history")
READS = ("lookup", "page", "conflicts", "status")

# name -> (unit, better)
PER_LAYER = {
    "setup.session_s": ("s", "lower"),
    "setup.feed_s": ("s", "lower"),
    "setup.bootstrap_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "resolve.plan_s": ("s", "lower"),
    "resolve.winners_per_event": ("ratio", "lower"),
    "resolve.conflict_keys": ("count", "lower"),
    "audit.conflicts_s": ("s", "lower"),
    "audit.lineage_s": ("s", "lower"),
    "audit.rows": ("count", "lower"),
    "audit.live_dirs": ("count", "lower"),
    "audit.jobs": ("count", "lower"),
    "status.s": ("s", "lower"),
    **{f"view.{v}_s": ("s", "lower") for v in VIEWS},
    **{f"view.{v}_jobs": ("count", "lower") for v in VIEWS},
    "merge.s": ("s", "lower"),
    "merge.touched_buckets": ("count", "lower"),
    "merge.written_buckets": ("count", "lower"),
    "merge.splits": ("count", "lower"),
    "merge.bytes_written": ("bytes", "lower"),
    "merge.jobs": ("count", "lower"),
    **{f"read.{r}_s": ("s", "lower") for r in READS},
    "read.jobs": ("count", "lower"),
    "stream.gap_s": ("s", "lower"),
    "epoch.jobs": ("count", "lower"),
    "epoch.tasks": ("count", "lower"),
    "epoch.tasks_failed": ("count", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "lake.mb": ("MB", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.read_overhead_frac": ("ratio", "lower"),
    "trace.attributed_frac": ("ratio", "higher"),
    "scaling.events_per_s_1core": ("1/s", "higher"),
    "scaling.events_per_s_ncore": ("1/s", "higher"),
}


def end_to_end(ctx, setup_s: float, rss_mb: float) -> dict:
    epochs = [o for o in ctx.ops if o["kind"] == "epoch" and o["ok"]]
    rounds = [r["s"] for r in ctx.read_rounds]
    return {
        "setup_s": setup_s,
        "epoch_s_p50": statistics.median(o["s"] for o in epochs) if epochs else 0.0,
        "events_per_s": sum(o["rows"] for o in epochs) / sum(o["s"] for o in epochs) if epochs else 0.0,
        "read_s_p50": statistics.median(rounds) if rounds else 0.0,
        "peak_rss_mb": rss_mb,
    }


def _overhead(traced: list[float], plain: list[float]) -> float:
    if not traced or not plain:
        return 0.0
    return statistics.median(traced) / statistics.median(plain) - 1


def per_layer(ctx, spans: list[dict]) -> dict:
    """Per-layer metrics: span times and counts are means per traced
    epoch (read kinds: per traced read); ``ctx.setup`` and ``ctx.extra``
    carry the set-up phases and the counts taken after the window."""
    selfs = self_times(spans)
    root_of = []
    for i in range(len(spans)):
        while spans[i]["parent"] is not None:
            i = spans[i]["parent"]
        root_of.append(i)
    epochs = {i for i, s in enumerate(spans) if s["parent"] is None and s["name"] == "epoch"}
    reads = {i for i, s in enumerate(spans) if s["parent"] is None and s["name"].startswith("read.")}
    n_ep = max(1, len(epochs))

    def in_epochs(names, field=None):
        """Mean per epoch of the summed duration (or ``field``) of spans
        named ``names``."""
        tot = 0.0
        for i, s in enumerate(spans):
            if s["name"] in names and root_of[i] in epochs:
                tot += s["end"] - s["start"] if field is None else s.get(field, 0)
        return tot / n_ep

    def jobs_under(names):
        """Mean per epoch of the jobs started inside ``names`` spans."""
        tot = 0
        for i in range(len(spans)):
            j = i
            while j is not None and spans[j]["name"] not in names:
                j = spans[j]["parent"]
            if j is not None and root_of[i] in epochs:
                tot += spans[i].get("jobs", 0)
        return tot / n_ep

    out = {k: 0.0 for k in PER_LAYER}
    out.update({f"{k}_s": v for k, v in ctx.setup.items()})
    out.update(ctx.extra)
    if epochs:
        out["resolve.plan_s"] = in_epochs({"resolve.plan"})
        out["audit.conflicts_s"] = in_epochs({"audit.conflicts"})
        out["audit.lineage_s"] = in_epochs({"audit.lineage"})
        out["audit.jobs"] = jobs_under({"audit.conflicts", "audit.lineage"})
        out["status.s"] = in_epochs({"status.count", "status.write"})
        for v in VIEWS:
            out[f"view.{v}_s"] = in_epochs({f"view.{v}"})
            out[f"view.{v}_jobs"] = jobs_under({f"view.{v}"})
        out["merge.s"] = in_epochs({"merge"})
        for k in ("touched_buckets", "written_buckets", "splits", "bytes_written"):
            out[f"merge.{k}"] = in_epochs({"merge"}, k)
        out["merge.jobs"] = jobs_under({"merge"})
        for k in ("jobs", "tasks", "tasks_failed"):
            out[f"epoch.{k}"] = sum(s.get(k, 0) for i, s in enumerate(spans) if root_of[i] in epochs) / n_ep
        out["trace.attributed_frac"] = statistics.mean(
            1 - selfs[r] / (spans[r]["end"] - spans[r]["start"]) for r in epochs)
    for kind in READS:
        rs = [spans[r]["end"] - spans[r]["start"] for r in reads if spans[r]["name"] == f"read.{kind}"]
        out[f"read.{kind}_s"] = statistics.mean(rs) if rs else 0.0
    if reads:
        out["read.jobs"] = sum(s.get("jobs", 0) for i, s in enumerate(spans) if root_of[i] in reads) / len(reads)
    ep = [o for o in ctx.ops if o["kind"] == "epoch" and o["ok"]]
    out["trace.overhead_frac"] = _overhead(
        [o["s"] for o in ep if o["traced"]], [o["s"] for o in ep if not o["traced"]])
    out["trace.read_overhead_frac"] = _overhead(
        [r["s"] for r in ctx.read_rounds if r["traced"]], [r["s"] for r in ctx.read_rounds if not r["traced"]])
    plain = [o for o in ep if not o["traced"]]
    if "scaling.events_per_s_1core" in ctx.extra and plain:
        out["scaling.events_per_s_ncore"] = sum(o["rows"] for o in plain) / sum(o["s"] for o in plain)
    return {k: float(out[k]) for k in PER_LAYER}
