"""bench.py's growth-sweep harness, scaling sizing and README flag list.

No Spark: the harness is driven with fake seed/epoch/rebuild callables.
"""

from __future__ import annotations

import ast
import os
import pathlib
import re
import sys
import time

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402

REPLICAS = [1, 2, 4]
ARMS = ("a", "b")


def _sweep(log, *, epoch_sleep=lambda j: 0.0, prep_sleep=0.0, rebuild_sleep=lambda k: 0.0,
           raise_at=None, **kw):
    """growth_sweep over REPLICAS x ARMS with fakes that record their calls."""

    def seed(k, arm, root):
        os.makedirs(root)
        pathlib.Path(root, "data").write_text("x")
        log.append(("seed", k, arm))
        return k, arm

    def epoch(st, j):
        time.sleep(prep_sleep)
        if j == raise_at:
            raise RuntimeError("epoch failed")

        def call():
            log.append(("epoch", *st, j))
            time.sleep(epoch_sleep(j))

        return call

    def rebuild(st):
        time.sleep(prep_sleep)

        def call():
            log.append(("rebuild", *st))
            time.sleep(rebuild_sleep(st[0]))
            return f"rebuilt{st[0]}"

        return call

    def report(st, rebuilt):
        return {"seen": rebuilt, "report_arm": st[1]}

    return bench.growth_sweep(
        {"metric": "fake", "parallelism": 1}, REPLICAS, ("rows", 10),
        seed, epoch, rebuild, report, arms=ARMS, **kw,
    )


def test_growth_sweep_keys_median_and_ratios(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "GROWTH_REPS", 4)
    log: list = []
    # rep j takes ~0.03*j s; the first size's rebuild is a no-op (0.0 s)
    out = _sweep(log, epoch_sleep=lambda j: 0.03 * j,
                 rebuild_sleep=lambda k: 0.0 if k == 1 else 0.05)

    assert set(out) == {
        "metric", "parallelism", "sizes", "corpus_growth", "rebuild_growth",
        "maintain_a_growth", "maintain_b_growth",
    }
    for k, entry in zip(REPLICAS, out["sizes"]):
        assert set(entry) == {
            "replicas", "rows", "rebuild_s", "seen", "report_arm",
            "maintain_a_secs", "maintain_a_median_s",
            "maintain_b_secs", "maintain_b_median_s",
        }
        assert entry["replicas"] == k and entry["rows"] == 10 * k
        # report and rebuild_s come from the first arm
        assert entry["seen"] == f"rebuilt{k}" and entry["report_arm"] == "a"
        for arm in ARMS:
            secs = entry[f"maintain_{arm}_secs"]
            assert len(secs) == 4
            # upper median of 4: the 3rd smallest (>= 0.09 s), not the
            # lower one (~0.06 s) nor the midpoint mean (~0.075 s)
            assert entry[f"maintain_{arm}_median_s"] == sorted(secs)[2] >= 0.09

    s0, s1 = out["sizes"][0], out["sizes"][-1]
    assert out["corpus_growth"] == 4.0
    assert s0["rebuild_s"] == 0.0 and s1["rebuild_s"] > 0
    assert out["rebuild_growth"] == round(s1["rebuild_s"] / 1e-9, 2)
    for arm in ARMS:
        key = f"maintain_{arm}_median_s"
        assert out[f"maintain_{arm}_growth"] == round(s1[key] / s0[key], 2)

    # replay: each arm's rebuild (its seed) runs before its untimed warm
    # epoch 0 and the timed epochs 1..4
    assert log[:7] == [
        ("seed", 1, "a"), ("rebuild", 1, "a"),
        ("epoch", 1, "a", 0), ("epoch", 1, "a", 1), ("epoch", 1, "a", 2),
        ("epoch", 1, "a", 3), ("epoch", 1, "a", 4),
    ]
    assert log[7:9] == [("seed", 1, "b"), ("rebuild", 1, "b")]
    assert list(tmp_path.iterdir()) == []


def test_growth_sweep_rebuild_after_epochs_on_first_arm_only(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DIR", str(tmp_path))
    log: list = []
    # advancing epochs: no warm epoch 0, the rebuild follows the epochs
    out = _sweep(log, replay=False)
    n = bench.GROWTH_REPS
    per_size = (
        [("seed", 1, "a")] + [("epoch", 1, "a", j) for j in range(1, n + 1)]
        + [("rebuild", 1, "a"), ("seed", 1, "b")]
        + [("epoch", 1, "b", j) for j in range(1, n + 1)]
    )
    assert log[: len(per_size)] == per_size
    assert [e for e in log if e[0] == "rebuild"] == [("rebuild", k, "a") for k in REPLICAS]
    assert all("rebuild_s" in entry for entry in out["sizes"])


def test_growth_sweep_times_only_the_returned_call(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "GROWTH_REPS", 2)
    # every epoch and rebuild preps for 0.2 s; the calls they return do nothing
    out = _sweep([], prep_sleep=0.2, replay=False)
    for entry in out["sizes"]:
        assert entry["rebuild_s"] < 0.1
        for arm in ARMS:
            assert all(s < 0.1 for s in entry[f"maintain_{arm}_secs"])


def test_growth_sweep_removes_its_dir_when_a_step_raises(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DIR", str(tmp_path))
    log: list = []
    with pytest.raises(RuntimeError, match="epoch failed"):
        _sweep(log, raise_at=2)
    assert ("seed", 1, "a") in log  # the seed wrote under the sweep dir
    assert list(tmp_path.iterdir()) == []


def test_every_growth_sweep_warms_up_untimed():
    """JIT and codegen belong in an untimed warm-up, not in the first
    size's timings: every corpus sweep passes ``warmup=``."""
    tree = ast.parse((ROOT / "bench.py").read_text())
    calls = [
        node for node in ast.walk(tree)
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "growth_sweep"
    ]
    assert len(calls) >= 7
    cold = [c.lineno for c in calls if "warmup" not in {kw.arg for kw in c.keywords}]
    assert not cold, f"growth_sweep calls without warmup= at bench.py lines {cold}"


def test_median_is_the_upper_median():
    assert bench._median([4, 1, 3, 2]) == 3
    assert bench._median([5, 1, 3]) == 3
    assert bench._median([{"t": 2}, {"t": 9}], key=lambda s: s["t"]) == {"t": 9}


def test_scaling_levels_fit_the_host():
    assert bench._scaling_levels(4) == (1, 4)
    assert bench._scaling_levels(32) == (6, 24)
    for cpus in (4, 8, 16, 32, 64):
        n, n4 = bench._scaling_levels(cpus)
        assert n4 == 4 * n <= cpus
    with pytest.raises(ValueError):
        bench._scaling_levels(2)


def test_readme_lists_every_bench_mode():
    readme = (ROOT / "README.md").read_text()
    listed = set(re.findall(r"^python bench\.py (--[a-z0-9-]+)", readme, re.MULTILINE))
    workers = {"--queries-only", "--cdc-only", "--core-only"}
    assert listed == set(bench.MODES) | {"--scaling", "--scaling-core"}
    assert not listed & workers and not set(bench.MODES) & workers
