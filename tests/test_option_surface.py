"""The engine's option surface stays as small as its one change-feed
contract allows (no Spark).

The feed contract is fixed: natural key ``(repo, path)``, last writer by
``lsn``, the ``op`` envelope column, and the CDF vocabulary of
``sources/lake.py`` (``CHANGE_COL`` and its four change types). So is
the MERGE contract: one delete-marker column, ``DELETE_COL``. Options
that only restate them double an untested configuration space, so these
checks keep them from coming back. For the same reason every public
package definition needs a caller outside the tests: a function only a
test calls is a second, ungated implementation of some semantics. And
every option of the storage and pipeline layers needs a non-test call
that sets it: an option only a test sets selects a path nothing gated
runs.
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
        "maintain_stats", "maintain_history", "maintain_view",
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


def _sources():
    """``(module, tree)`` for every non-test source: the package,
    ``bench.py``, ``__spark_entry__.py``, ``scripts/`` and ``perfbench/``."""
    scripts = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
               *sorted((ROOT / "scripts").rglob("*.py")),
               *sorted((ROOT / "perfbench").rglob("*.py"))]
    yield from _modules()
    for p in scripts:
        yield p.relative_to(ROOT).as_posix(), ast.parse(p.read_text())


def _references():
    """Where each name is mentioned in the non-test sources, as
    ``{name: {(module, line of the enclosing top-level statement)}}``.
    A mention is a load, an attribute or an imported name; a package
    ``__init__``'s import is a re-export, not a use, and a docstring
    is not a mention."""
    refs = collections.defaultdict(set)
    for module, tree in _sources():
        for stmt in tree.body:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name):
                    refs[node.id].add((module, stmt.lineno))
                elif isinstance(node, ast.Attribute):
                    refs[node.attr].add((module, stmt.lineno))
                elif isinstance(node, ast.alias) and not module.endswith("__init__.py"):
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


# The storage and pipeline layers' defaulted parameters that no
# non-test call passes, each kept on purpose with its reason. An option
# only a test sets is a configuration no gated path runs.
UNPASSED_OK: dict[str, str] = {}

OPTION_MODULES = ("sources/lake.py", "streaming/pipeline.py")


def _defaulted(fn: ast.FunctionDef, bound: bool) -> list[tuple[str, int | None]]:
    """``fn``'s parameters that have a default, each with its position
    among the arguments a call passes (``None`` when keyword-only)."""
    positional = [*fn.args.posonlyargs, *fn.args.args][1 if bound else 0:]
    first = len(positional) - len(fn.args.defaults)
    return [(a.arg, i) for i, a in enumerate(positional) if i >= first] + [
        (a.arg, None) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None
    ]


def _options():
    """``[(where, callee name, parameter, position)]`` for every public
    function, method and constructor of :data:`OPTION_MODULES` (a
    dataclass's defaulted fields are its constructor's parameters). A
    private base class's public methods count: its subclasses expose them."""
    out = []
    for module, tree in _modules():
        if module not in OPTION_MODULES:
            continue
        classes = [n for n in tree.body if isinstance(n, ast.ClassDef)]
        bases = {b.id for c in classes if not c.name.startswith("_")
                 for b in c.bases if isinstance(b, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                out += [(f"{module}:{node.lineno}", node.name, p, i)
                        for p, i in _defaulted(node, bound=False)]
            if not isinstance(node, ast.ClassDef):
                continue
            public = not node.name.startswith("_")
            if public and any(ast.unparse(d).endswith("dataclass") for d in node.decorator_list):
                fields = [s for s in node.body
                          if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)]
                out += [(f"{module}:{s.lineno}", node.name, s.target.id, i)
                        for i, s in enumerate(fields) if s.value is not None]
            if not (public or node.name in bases):
                continue
            for fn in node.body:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                if fn.name == "__init__" and public:
                    callee = node.name
                elif not fn.name.startswith("_"):
                    callee = fn.name
                else:
                    continue
                static = any(ast.unparse(d) == "staticmethod" for d in fn.decorator_list)
                out += [(f"{module}:{fn.lineno}", callee, p, i)
                        for p, i in _defaulted(fn, bound=not static)]
    return out


def _calls():
    """``{callee name: [(positional count, keywords, unpacks)]}`` over every
    call in the non-test sources; ``functools.partial(f, ...)`` is a call
    of ``f``. Callees match by name alone, so this is a lenient floor."""
    calls = collections.defaultdict(list)
    for _, tree in _sources():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            name = getattr(func, "id", getattr(func, "attr", None))
            if name == "partial" and args:
                func, args = args[0], args[1:]
                name = getattr(func, "id", getattr(func, "attr", None))
            starred = [i for i, a in enumerate(args) if isinstance(a, ast.Starred)]
            calls[name].append((
                starred[0] if starred else len(args),
                {k.arg for k in node.keywords},
                bool(starred) or None in {k.arg for k in node.keywords},
            ))
    return calls


def test_every_storage_and_pipeline_option_has_a_non_test_caller():
    calls = _calls()
    unpassed = {
        f"{callee}({param})": where
        for where, callee, param, pos in _options()
        if not any(
            unpacks or param in keywords or (pos is not None and pos < n_pos)
            for n_pos, keywords, unpacks in calls[callee]
        )
    }
    unlisted = {k: v for k, v in unpassed.items() if k not in UNPASSED_OK}
    assert not unlisted, f"pass each from a non-test caller or delete it: {unlisted}"
    stale = sorted(set(UNPASSED_OK) - set(unpassed))
    assert not stale, f"allow-listed but passed or gone: {stale}"
