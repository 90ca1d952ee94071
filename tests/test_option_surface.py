"""The engine's option surface stays as small as its one change-feed
contract allows (no Spark).

The feed contract is fixed: natural key ``(repo, path)``, last writer by
``lsn``, the ``op`` envelope column, and the CDF vocabulary of
``sources/lake.py`` (``CHANGE_COL`` and its four change types). So is
the MERGE contract: one delete-marker column, ``DELETE_COL``. Options
that only restate them double an untested configuration space, so these
checks keep them from coming back.
"""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

import data_ingestion_resolution_platform_spark as pkg
from data_ingestion_resolution_platform_spark.sources.lake import DELETE_COL
from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

PKG = Path(pkg.__file__).parent
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
