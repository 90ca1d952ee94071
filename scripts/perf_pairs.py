#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, summarised per metric.

    python3 scripts/perf_pairs.py PARENT_TREE CHANGE_TREE \\
        --workload replay_hot --seeds A-B [--out DIR]

Each tree is a source checkout with its own ``perfbench/``. For every
seed the script runs ``perfbench/run.py --trace 0`` once in each tree,
for the ``run_seconds`` of ``BENCHMARK.json`` (so both sides run alike),
one run at a time, and flips which tree goes first every pair (the
parent on even pair indices). It then prints, for each end-to-end
metric of ``BENCHMARK.json`` (read from the tree this script sits in),
the parent and change median [q1, q3], the pairs the change won and
tied, and whether the change median is worse than the parent's by more
than the metric's relative bound; last, the ``correct`` / ``failed``
totals of each side. ``--out`` keeps each run's result line as
``<side>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One fresh perfbench process in ``tree``; its result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{tree}: {' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3


def summarize(pairs: list[tuple[dict, dict]], spec: dict) -> dict:
    """Per-metric medians, quartiles, wins, ties and bound check over
    ``(parent_result, change_result)`` pairs, plus per-side totals."""
    metrics = []
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        vals = [(p["metrics"][name]["value"], c["metrics"][name]["value"]) for p, c in pairs]
        par, chg = [v[0] for v in vals], [v[1] for v in vals]
        p_med, p_q1, p_q3 = _quartiles(par)
        c_med, c_q1, c_q3 = _quartiles(chg)
        gap = (c_med - p_med) if lower else (p_med - c_med)
        worse = gap / abs(p_med) if p_med else 0.0
        metrics.append({
            "name": name,
            "unit": m["unit"],
            "parent": [p_med, p_q1, p_q3],
            "change": [c_med, c_q1, c_q3],
            "wins": sum((c < p) if lower else (c > p) for p, c in vals),
            "ties": sum(c == p for p, c in vals),
            "worse_frac": worse,
            "bound": m["bound"],
            "past_bound": worse > m["bound"],
        })
    totals = {
        side: {
            "runs": len(pairs),
            "correct": sum(bool(pair[i]["correct"]) for pair in pairs),
            "attempted": sum(pair[i]["attempted"] for pair in pairs),
            "failed": sum(pair[i]["failed"] for pair in pairs),
        }
        for i, side in enumerate(SIDES)
    }
    return {"pairs": len(pairs), "metrics": metrics, "totals": totals}


def report(summary: dict) -> str:
    n = summary["pairs"]
    out = []
    for m in summary["metrics"]:
        p, c = m["parent"], m["change"]
        out.append(
            f"{m['name']:>13} [{m['unit']}]  parent {p[0]:.4g} [{p[1]:.4g}, {p[2]:.4g}]"
            f"  change {c[0]:.4g} [{c[1]:.4g}, {c[2]:.4g}]"
            f"  wins {m['wins']}/{n} ties {m['ties']}/{n}"
            f"  worse {m['worse_frac']:+.1%} (bound {m['bound']:.0%})"
            f"{'  PAST BOUND' if m['past_bound'] else ''}"
        )
    for side, t in summary["totals"].items():
        out.append(
            f"{side}: correct {t['correct']}/{t['runs']} runs,"
            f" failed {t['failed']}/{t['attempted']} operations"
        )
    return "\n".join(out)


def _seeds(text: str) -> list[int]:
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_tree")
    ap.add_argument("change_tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=_seeds,
                    help="A-B, inclusive; seeds not used while developing the change")
    ap.add_argument("--out", help="keep each run's result line here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    trees = dict(zip(SIDES, (args.parent_tree, args.change_tree)))
    pairs = []
    for i, seed in enumerate(args.seeds):
        res = {}
        for side in SIDES if i % 2 == 0 else SIDES[::-1]:
            res[side] = run_once(trees[side], args.workload, seed, spec["run_seconds"])
            if args.out:
                os.makedirs(args.out, exist_ok=True)
                with open(os.path.join(args.out, f"{side}-{seed}.json"), "w") as f:
                    json.dump(res[side], f)
        pairs.append((res["parent"], res["change"]))
        print(f"pair {i + 1}/{len(args.seeds)} seed {seed} done", file=sys.stderr, flush=True)
    print(report(summarize(pairs, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
