"""One key-probe of a stored table (no Spark).

``_MergeTable.lookup`` in ``sources/lake.py`` is the package's one read
of "the stored rows for these keys". Outside that module, a
``.join(..., how="left_semi")`` called on a table's ``.read()`` chain,
or on a name bound to one in the same function, is a hand-rolled
second probe that a change to ``lookup`` (bucket pruning, say) would
miss. A name bound to a materialized snapshot of a read
(``localCheckpoint`` / ``persist`` / ``cache``) probes that in-memory
copy, not the table, and is not a probe of stored data.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "data_ingestion_resolution_platform_spark"
OWNER = "data_ingestion_resolution_platform_spark/sources/lake.py"
MATERIALIZED = {"localCheckpoint", "checkpoint", "persist", "cache"}


def _is_read_chain(node) -> bool:
    """``x.read(...)`` followed by any chain of calls, attributes and
    subscripts (either arm of a conditional expression counts)."""
    if isinstance(node, ast.IfExp):
        return _is_read_chain(node.body) or _is_read_chain(node.orelse)
    while isinstance(node, (ast.Call, ast.Attribute, ast.Subscript)):
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Attribute) and node.func.attr == "read":
                return True
            node = node.func
        else:
            node = node.value
    return False


def _is_snapshot(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in MATERIALIZED
    )


def _is_semi_join(call: ast.Call) -> bool:
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "join"):
        return False
    how = [k.value for k in call.keywords if k.arg == "how"] + call.args[2:3]
    return any(isinstance(h, ast.Constant) and h.value == "left_semi" for h in how)


def _probes(tree):
    """(line, receiver) of every semi-join on a stored table's read."""
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        bound = {
            target.id
            for node in ast.walk(fn)
            if isinstance(node, ast.Assign)
            and _is_read_chain(node.value)
            and not _is_snapshot(node.value)
            for target in node.targets
            if isinstance(target, ast.Name)
        }
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and _is_semi_join(node):
                recv = node.func.value
                if _is_read_chain(recv) or (isinstance(recv, ast.Name) and recv.id in bound):
                    yield node.lineno, ast.unparse(recv)


def test_guard_sees_both_probe_shapes():
    direct = "def f(t, k):\n    return t.read().join(k, on='a', how='left_semi')\n"
    named = (
        "def f(t, k):\n"
        "    cur = t.read().select('a') if t.exists() else None\n"
        "    return cur.join(k, 'a', 'left_semi')\n"
    )
    snapshot = (
        "def f(t, k):\n"
        "    pre = t.read().localCheckpoint()\n"
        "    return pre.join(k, on='a', how='left_semi')\n"
    )
    assert [line for line, _ in _probes(ast.parse(direct))] == [2]
    assert [line for line, _ in _probes(ast.parse(named))] == [3]
    assert list(_probes(ast.parse(snapshot))) == []


def test_lookup_is_the_only_key_probe_of_a_stored_table():
    found = {
        f"{path.relative_to(ROOT).as_posix()}:{line}: {recv}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.relative_to(ROOT).as_posix() != OWNER
        for line, recv in _probes(ast.parse(path.read_text()))
    }
    assert not found, sorted(found)
