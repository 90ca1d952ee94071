"""Every maintained view of ``streaming/pipeline.py`` is advanced only by
its own ``_maintain_*`` step.

A feed epoch and the snapshot bootstrap both reach the views through
``CDCPipeline._view_advancers``; a view operator called anywhere else
would be a second, diverging copy of that view's maintenance (a seed
with its own ledger id, projection or ordering). The one exception is
the dimension side of the joined view, ``apply_dim_changes``."""

from __future__ import annotations

import ast
from pathlib import Path

import data_ingestion_resolution_platform_spark.streaming.pipeline as pipeline

_VIEW_OPERATORS = {
    "maintain_aggregate",
    "maintain_cms",
    "maintain_topk",
    "maintain_join",
    "historize_epoch",
}
_ALLOWED_ELSEWHERE = {("maintain_join", "apply_dim_changes")}


class _OperatorCalls(ast.NodeVisitor):
    """Calls of a view operator, by name or attribute, with the
    innermost enclosing function of each call."""

    def __init__(self) -> None:
        self.scope: list[str] = []
        self.hits: list[tuple[str, int, str | None]] = []

    def visit_FunctionDef(self, node) -> None:
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_Call(self, node: ast.Call) -> None:
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in _VIEW_OPERATORS:
            self.hits.append((name, node.lineno, self.scope[-1] if self.scope else None))
        self.generic_visit(node)


def test_view_operators_called_only_from_maintain_steps():
    finder = _OperatorCalls()
    finder.visit(ast.parse(Path(pipeline.__file__).read_text()))
    outside = [
        f"{name} at line {line} in {scope}"
        for name, line, scope in finder.hits
        if not (scope or "").startswith("_maintain_")
        and (name, scope) not in _ALLOWED_ELSEWHERE
    ]
    assert not outside, f"view operators called outside a _maintain_* step: {outside}"
    # the scan sees every operator in its step, so it is not vacuous
    in_steps = {name for name, _, scope in finder.hits if (scope or "").startswith("_maintain_")}
    assert in_steps == _VIEW_OPERATORS
