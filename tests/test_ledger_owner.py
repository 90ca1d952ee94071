"""One owner for the exactly-once epoch ledger (no Spark).

Every table keeps its ledger through the one MERGE contract of
``sources/lake.py``. A module that builds its own ``_EpochLedger`` has
its own commit path beside that contract (no atomic flip, no
``before_commit`` gate), so only ``sources/lake.py`` may name it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OWNER = "data_ingestion_resolution_platform_spark/sources/lake.py"


def _sources():
    yield from sorted((ROOT / "data_ingestion_resolution_platform_spark").rglob("*.py"))
    yield ROOT / "bench.py"
    yield from sorted((ROOT / "scripts").glob("*.py"))
    yield from sorted((ROOT / "tests").glob("*.py"))


def _names(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.lineno, node.id
        elif isinstance(node, ast.Attribute):
            yield node.lineno, node.attr
        elif isinstance(node, ast.alias):
            yield node.lineno, node.name


def test_epoch_ledger_is_named_only_by_its_owner():
    found = [
        f"{path.relative_to(ROOT).as_posix()}:{line}"
        for path in _sources()
        if path.relative_to(ROOT).as_posix() != OWNER
        for line, name in _names(ast.parse(path.read_text()))
        if name == "_EpochLedger"
    ]
    assert not found, found
