"""Registry-shape invariants.

The driver's correctness gate evaluates only the FIRST 50 entries of the
``queries()`` dict each round (observed: CORRECTNESS_r01/r02 both contain
exactly 50 rows matching the registry's head).  These tests pin the round-3
ordering contract — never-gated queries and freshly-fixed reds must sit
inside the window — and lint every DuckDB oracle for the representation
hazard class that caused the round-1/2 hash failures (uncast ``sum()``
returning HUGEINT/int128, which canonicalizes differently from BIGINT).
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys
import time
from pathlib import Path

from data_ingestion_resolution_platform_spark.plans import queries as Q
from data_ingestion_resolution_platform_spark.plans.queries import ORACLES, QUERIES

GATE_WINDOW = 50

# Round-5 gate contract (VERDICT.md round-4, Next round #1): the eleven
# never-driver-gated queries lead the window, followed by the flagship e2e
# pair (last hard row r03) and the three r02-signal entries (the registry's
# oldest hard rows).  Round-5 additions are appended to this set as they
# land.
MUST_BE_GATED = {
    # never driver-gated before round 5
    "ann_ivf_inc_partitioned", "pipeline_maintained_leaderboard",
    "ivm_percentiles", "sketch_distinct_kmv", "sketch_kmv_incremental",
    "sketch_heavy_hitters", "stream_stream_join", "funnel_conversion",
    "triangle_count", "cohort_retention", "dpp_prune_join",
    # flagship e2e queries, last hard row r03
    "cdc_apply_changes", "pipeline_cdc_e2e",
    # oldest hard signal in the registry (r02)
    "customer_set_ops", "dedup_ngram_jaccard", "latest_order_salted",
    # NEW in round 5 (first hard row)
    "sketch_quantiles", "sketch_quantiles_incremental",
    "pipeline_schema_evolution", "pipeline_maintained_quantiles",
    "search_index_maintained", "bm25_maintained",
    "dedup_clusters_incremental", "stream_session_window",
    "triangle_count_incremental", "funnel_incremental",
    "cohort_incremental", "pagerank",
}

# Below-window entries must still hold a recent hard row: everything not in
# the round-5 window is either r04-green (the freshest signal) or one of the
# 8 reviewed family-redundant r03 greens listed here.
REDUNDANT_R03_BELOW = {
    "ann_ivf", "ann_ivf_persisted", "cdc_resolve_first", "cdc_with_choices",
    "events_sessionize", "vocab_topk", "cdf_replication", "spend_deciles",
    # slid below as the round-5 additions landed (family twins in the
    # registry comment); table_changes is r04-green, not r03
    "stratified_sample", "lineitem_unpivot", "events_cube",
    # slid below when dedup_clusters_incremental / stream_session_window
    # landed: zorder's data-skipping family twins (lake_prune_scan,
    # bloom_prune_scan) remain in-window; bucketed storage stays driven by
    # mor_merge_read in-window plus the bucketed-backend pytest suites
    "zorder_prune_scan", "bucketed_join",
    # slid below when triangle_count_incremental landed: the round-5
    # pipeline_schema_evolution (full-pipeline superset of the same
    # reconciliation path) holds the in-window slot for the family
    "cdc_schema_evolution",
    # slid below when funnel_incremental landed: the text-quality family
    # (text_quality / lang_id / token_stats) is r04-green
    "repetition_stats",
    # slid below when cohort_incremental landed: lake_prune_scan holds the
    # in-window data-skipping slot; bloom keeps its r03 row + pytest suite
    "bloom_prune_scan",
}


def test_redundant_below_window_entries_are_actually_below():
    window = set(list(QUERIES)[:GATE_WINDOW])
    assert not (REDUNDANT_R03_BELOW & window)


def test_never_gated_queries_inside_window():
    window = list(QUERIES)[:GATE_WINDOW]
    missing = MUST_BE_GATED - set(window)
    assert not missing, f"outside driver gate window: {sorted(missing)}"


def test_every_query_has_oracle():
    # round 4: multimodal_features gained a closed-form oracle, so the
    # registry is 100% hash-gated — no rows-only queries remain
    for name in QUERIES:
        assert name in ORACLES, name


def test_oracle_names_unique_and_registered():
    for name in ORACLES:
        assert name in QUERIES, f"oracle without query: {name}"


# --- representation-hazard lint (VERDICT.md round-2, directive #5) ---------
#
# DuckDB `sum(intlike)` returns HUGEINT (int128); `count()` returns BIGINT;
# `avg()` returns DOUBLE.  A compared column produced by an uncast sum()
# hashes differently from Spark's BIGINT even when values agree.  Lint: every
# `sum(` appearing in an oracle's SELECT list must be wrapped in an explicit
# CAST (or be part of a larger cast/round expression).

_SUM_RE = re.compile(r"\bsum\s*\(", re.IGNORECASE)
_GUARD_RE = re.compile(r"\b(?:CAST|TRY_CAST|ROUND)\s*\(\s*(?:--[^\n]*\n\s*)?sum\s*\(", re.IGNORECASE)


def _uncast_sums(sql: str) -> int:
    """Count sum( occurrences not immediately wrapped by CAST/ROUND.

    Heuristic: for each sum( match, look backwards up to 80 chars for a
    CAST(/ROUND( opener with only whitespace/comments/expression glue
    between.  Conservative: flags anything not provably cast.
    """
    n = 0
    for m in _SUM_RE.finditer(sql):
        prefix = sql[max(0, m.start() - 120):m.start()]
        # strip line comments from the prefix tail
        prefix = re.sub(r"--[^\n]*", "", prefix)
        tail = prefix[-60:]
        if re.search(r"(?:CAST|TRY_CAST|ROUND)\s*\(\s*$", tail, re.IGNORECASE):
            continue
        # sum( inside a division / arithmetic that is itself cast is caught
        # by the division form `CAST(sum(x) ... )` above; also allow
        # `sum(...) :: BIGINT` postfix casts.
        rest = sql[m.start():]
        # find the matching close paren of this sum(...)
        depth = 0
        end = None
        for i, ch in enumerate(rest):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end is not None and re.match(r"\s*::", rest[end + 1:]):
            continue
        n += 1
    return n


# Reviewed-safe uncast sum() sites, pinned by exact count so any NEW uncast
# sum (even added to an already-allowlisted oracle) still trips the lint:
#   orders_above_cust_avg : scalar subquery compared with >, never selected
#   events_session_window : CTE session_seq used only as GROUP BY key,
#                           not in the compared SELECT list
#   pipeline_epoch_status : sum(CASE..) > 0 inside a CASE comparison
#   pagerank              : sum(rank) over DOUBLE — DuckDB returns DOUBLE
#   repetition_stats      : CTE n_tokens re-cast at the final SELECT
#   shard_packing         : wrapped as CAST(coalesce(sum(..) OVER ..))
#   kmeans_embeddings     : sum(b.qv[i]) appears 3x per dimension inside the
#                           fdiv() floor-division macro, whose WHOLE
#                           expression is CAST(... AS BIGINT); HUGEINT only
#                           exists as interior arithmetic, and both compared
#                           columns (cluster, dist) carry explicit casts
_REVIEWED_UNCAST = {
    "orders_above_cust_avg": 1,
    "events_session_window": 1,
    # same SQL_SESSION_WINDOW oracle, reused by the streaming twin
    "stream_session_window": 1,
    "pipeline_epoch_status": 1,
    "pagerank": 10,
    "repetition_stats": 1,
    "shard_packing": 1,
    "kmeans_embeddings": 256,
    # same fdiv() floor-division macro as kmeans_embeddings (shared
    # _kmeans_chain): 64 dims × 2 interior sums × 2 iterations, every
    # compared column explicitly cast
    "ann_ivf_kmeans": 256,
}


def test_no_uncast_sum_in_compared_oracle_columns():
    offenders = {}
    for name, sql in ORACLES.items():
        # Only the outermost SELECT's columns are compared, but a CTE column
        # selected through to the output inherits its type — lint the whole
        # statement (comments stripped) and pin reviewed-safe interior uses.
        bad = _uncast_sums(re.sub(r"--[^\n]*", "", sql))
        if bad != _REVIEWED_UNCAST.get(name, 0):
            offenders[name] = bad
    assert not offenders, (
        "oracle SQL with un-reviewed uncast sum() — DuckDB returns HUGEINT "
        f"and the driver hash will mismatch Spark BIGINT: {offenders}"
    )


# --- registry shape guards -------------------------------------------------
#
# Scratch dirs, the LWW oracle prelude and module imports each live in ONE
# place in plans/queries.py; these pin that the copies stay deleted.

def _registry_tree():
    return ast.parse(Path(Q.__file__).read_text())


def test_registry_has_no_tmp_paths_and_one_rmtree_site():
    tree = _registry_tree()
    tmp = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and "/tmp/" in n.value
    ]
    assert not tmp, f"hard-coded /tmp/ paths at lines {tmp}: use _scratch()"
    assert not [n for n in ast.walk(tree) if isinstance(n, ast.Name) and n.id == "shutil"]
    rmtree_users = {
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for n in ast.walk(fn)
        if isinstance(n, ast.Name) and n.id == "rmtree"
    }
    assert rmtree_users == {"_scratch"}, rmtree_users


def test_registry_imports_only_at_module_level():
    local = [
        (fn.name, n.lineno)
        for fn in ast.walk(_registry_tree())
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for n in ast.walk(fn)
        if isinstance(n, (ast.Import, ast.ImportFrom))
    ]
    assert not local, f"function-local imports: {local}"


def test_lww_prelude_written_once():
    src = Path(Q.__file__).read_text()
    assert src.count("PARTITION BY repo, path ORDER BY lsn DESC") == 1


def test_nested_fixture_phase_counts_once():
    Q.reset_fixture_time()
    with Q.fixture_phase():
        with Q.fixture_phase():
            time.sleep(0.2)
    assert 0.2 <= Q.fixture_time() < 0.35


_SCRATCH_PROBE = """
import os
from data_ingestion_resolution_platform_spark.plans.queries import _scratch
p = _scratch("/x/sf0.001", "t")
os.makedirs(p)
print(p, flush=True)
"""


def test_scratch_root_is_per_process_and_removed_at_exit(tmp_path):
    repo = Path(__file__).resolve().parents[1]
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": str(repo)}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _SCRATCH_PROBE], env=env, cwd=repo,
            stdout=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    paths = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert all(p.returncode == 0 for p in procs)
    roots = [os.path.dirname(p) for p in paths]
    assert roots[0] != roots[1]
    for path, root in zip(paths, roots):
        assert os.path.basename(path) == "t_sf0.001"
        assert os.path.dirname(root) == str(tmp_path)
        assert os.path.basename(root).startswith("dirp_")
    assert not list(tmp_path.iterdir()), "a scratch root outlived its process"
