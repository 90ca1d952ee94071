"""The engine's option surface stays as small as its one change-feed
contract allows (no Spark).

The feed contract is fixed: natural key ``(repo, path)``, last writer by
``lsn``, the ``op`` envelope column, and the CDF vocabulary of
``sources/lake.py`` (``CHANGE_COL`` and its four change types). So is
the MERGE contract: one delete-marker column, ``DELETE_COL``. Options
that only restate them double an untested configuration space, so these
checks keep them from coming back. For the same reason every public
package definition needs a caller outside the tests: a function only a
test calls is a second, ungated implementation of some semantics.
"""

from __future__ import annotations

import ast
import collections
import dataclasses
from pathlib import Path

import data_ingestion_resolution_platform_spark as pkg
from data_ingestion_resolution_platform_spark.sources.lake import DELETE_COL
from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

PKG = Path(pkg.__file__).parent
ROOT = PKG.parent
CHANGE_TYPES = {"insert", "delete", "update_preimage", "update_postimage"}


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text())


def test_pipeline_fields_are_the_deployment_and_view_switches():
    assert [f.name for f in dataclasses.fields(CDCPipeline)] == [
        "spark", "feed_dir", "warehouse", "renames", "n_buckets", "max_bucket_bytes",
        "target_mode", "maintain_stats", "maintain_history", "maintain_view",
        "maintain_leaderboard", "maintain_freq", "freq_width", "maintain_quantiles",
        "quantile_k",
    ]


def _parameters(names):
    return [
        f"{name}:{node.lineno} {arg.arg}"
        for name, tree in _modules()
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
        for arg in [*node.args.posonlyargs, *node.args.args, *node.args.kwonlyargs]
        if arg.arg in names
    ]


def _spelling_modules(values):
    return {
        name
        for name, tree in _modules()
        if name != "plans/queries.py"
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and node.value in values
    }


def test_no_parameter_renames_the_feed_columns():
    found = _parameters(("change_col", "op_col"))
    assert not found, found


def test_change_types_are_spelled_in_one_module():
    assert _spelling_modules(CHANGE_TYPES) == {"sources/lake.py"}


def test_no_parameter_restates_the_delete_marker():
    found = _parameters(("delete_condition", "drop_cols"))
    assert not found, found


def test_delete_marker_is_spelled_in_one_module():
    assert _spelling_modules({DELETE_COL}) == {"sources/lake.py"}


# Public package definitions that no non-test source calls, each kept on
# purpose. An entry whose definition gains a caller, or goes, must go too.
NO_CALLER_OK = {
    "kmv_merge": "the KMV merge algebra; tests/test_property_sketch.py pins "
    "sketch(A ∪ B) == kmv_merge(sketch(A), sketch(B))",
    "qsample_merge": "the quantile-sample merge algebra, pinned the same way "
    "by tests/test_sketch_quantiles.py",
    "reconcile_json_stream": "the package's one mapInPandas schema reconciler, "
    "the vectorized-UDF shape BASELINE.json asks for; the pipeline uses "
    "reconcile_exprs",
}


def _references():
    """Where each name is mentioned in the non-test sources, as
    ``{name: {(module, line of the enclosing top-level statement)}}``.
    A mention is a load, an attribute or an imported name, so a
    re-export from a package ``__init__`` counts and a docstring does not."""
    scripts = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
               *sorted((ROOT / "scripts").rglob("*.py")),
               *sorted((ROOT / "perfbench").rglob("*.py"))]
    sources = [*_modules(),
               *((p.relative_to(ROOT).as_posix(), ast.parse(p.read_text())) for p in scripts)]
    refs = collections.defaultdict(set)
    for module, tree in sources:
        for stmt in tree.body:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name):
                    refs[node.id].add((module, stmt.lineno))
                elif isinstance(node, ast.Attribute):
                    refs[node.attr].add((module, stmt.lineno))
                elif isinstance(node, ast.alias):
                    refs[node.name.rpartition(".")[2]].add((module, stmt.lineno))
    return refs


def test_every_public_definition_has_a_non_test_caller():
    refs = _references()
    uncalled = {
        node.name: f"{module}:{node.lineno}"
        for module, tree in _modules()
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
        and not refs[node.name] - {(module, node.lineno)}
    }
    unlisted = {name: where for name, where in uncalled.items() if name not in NO_CALLER_OK}
    assert not unlisted, f"give each a non-test caller or delete it: {unlisted}"
    stale = sorted(set(NO_CALLER_OK) - set(uncalled))
    assert not stale, f"allow-listed but called or gone: {stale}"
