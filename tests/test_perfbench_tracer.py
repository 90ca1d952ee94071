"""The traced benchmark run patches engine methods from outside
(``perfbench/tracer.py``); these checks keep its targets valid (no Spark).

A ``--trace 1`` run splits the epoch by span name, so each patched
method must resolve, carry exactly one wrapper, and be restored by
``uninstall``. ``LakeTable.merge`` and ``PartitionedLakeTable.merge``
must stay separate methods: a ``merge`` wrapper around the
``lake.merge`` wrapper would nest one span inside the other.
"""

from __future__ import annotations

import ast
import functools
import pathlib
import sys
import types

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import tracer  # noqa: E402


def _targets():
    """(owner expression, attribute) of every ``patch(...)`` call in
    ``tracer.install``."""
    tree = ast.parse((ROOT / "perfbench" / "tracer.py").read_text())
    return [
        (ast.unparse(node.args[0]), node.args[1].value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "patch"
    ]


def _owners():
    from data_ingestion_resolution_platform_spark.operators import cdc, ivm, scd, sketch
    from data_ingestion_resolution_platform_spark.sources import lake
    from data_ingestion_resolution_platform_spark.streaming import pipeline

    return dict(cdc=cdc, ivm=ivm, scd=scd, sketch=sketch, lake=lake, pipeline=pipeline)


def _depth(fn) -> int:
    n = 0
    while hasattr(fn, "__wrapped__"):
        fn, n = fn.__wrapped__, n + 1
    return n


def test_install_wraps_every_target_once_and_uninstall_restores():
    targets = _targets()
    names = _owners()
    owners = [
        (functools.reduce(getattr, rest, names[head]), attr)
        for (head, *rest), attr in ((expr.split("."), attr) for expr, attr in targets)
    ]
    assert ("lake.LakeTable", "merge") in targets
    assert ("lake.PartitionedLakeTable", "merge") in targets
    originals = [getattr(owner, attr) for owner, attr in owners]

    uninstall = tracer.install(types.SimpleNamespace(enabled=False))
    try:
        for (owner, attr), orig in zip(owners, originals):
            wrapped = getattr(owner, attr)
            assert wrapped is not orig, (owner, attr)
            assert _depth(wrapped) == 1 and wrapped.__wrapped__ is orig, (owner, attr)
        lake = names["lake"]
        assert lake.PartitionedLakeTable.merge is not lake.LakeTable.merge
        assert lake.PartitionedLakeTable.merge.__wrapped__ is not lake.LakeTable.merge
    finally:
        uninstall()
    for (owner, attr), orig in zip(owners, originals):
        assert getattr(owner, attr) is orig, (owner, attr)
