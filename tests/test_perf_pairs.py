"""``scripts/perf_pairs.py``'s summary (no Spark): medians and
quartiles per side, the change's wins and ties, the bound check and
the correct/failed totals, on synthetic result lines."""

from __future__ import annotations

import importlib.util
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
_spec = importlib.util.spec_from_file_location("perf_pairs", ROOT / "scripts" / "perf_pairs.py")
perf_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(perf_pairs)

SPEC = {
    "end_to_end": [
        {"name": "epoch_s_p50", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "events_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    ]
}


def _row(epoch_s, events, correct=True, failed=0):
    return {
        "correct": correct,
        "attempted": 10,
        "failed": failed,
        "metrics": {
            "epoch_s_p50": {"value": epoch_s, "unit": "s"},
            "events_per_s": {"value": events, "unit": "1/s"},
        },
    }


def test_summary_counts_wins_ties_bounds_and_totals():
    pairs = [
        (_row(2.0, 100), _row(1.0, 50)),
        (_row(2.0, 100), _row(1.5, 60)),
        (_row(2.0, 100), _row(2.0, 70, correct=False, failed=2)),
        (_row(2.0, 100), _row(1.0, 200)),
    ]
    s = perf_pairs.summarize(pairs, SPEC)
    assert s["pairs"] == 4
    epoch, events = s["metrics"]
    assert epoch["name"] == "epoch_s_p50"
    # statistics.quantiles(n=4), the exclusive method
    assert epoch["parent"] == [2.0, 2.0, 2.0]
    assert epoch["change"] == [1.25, 1.0, 1.875]
    assert (epoch["wins"], epoch["ties"]) == (3, 1)
    assert epoch["worse_frac"] == -0.375 and not epoch["past_bound"]
    # higher is better: a change median 35% below the parent's is past
    # a 25% bound, though the change won one pair
    assert events["change"][0] == 65.0
    assert (events["wins"], events["ties"]) == (1, 0)
    assert events["worse_frac"] == 0.35 and events["past_bound"]
    assert s["totals"] == {
        "parent": {"runs": 4, "correct": 4, "attempted": 40, "failed": 0},
        "change": {"runs": 4, "correct": 3, "attempted": 40, "failed": 2},
    }
    text = perf_pairs.report(s)
    assert "PAST BOUND" in text.splitlines()[1]
    assert "PAST BOUND" not in text.splitlines()[0]
    assert "change: correct 3/4 runs, failed 2/40 operations" in text


def test_seed_ranges_are_inclusive():
    assert perf_pairs._seeds("7101-7103") == [7101, 7102, 7103]
    assert perf_pairs._seeds("5") == [5]
