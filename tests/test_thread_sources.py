"""No engine module starts a thread outside
``streaming.pipeline.run_concurrently``.

Spark local properties (job group, scheduler pool) are per thread; the
helper hands the caller's properties to every step it runs. A pool or
thread created anywhere else would run its Spark jobs outside the
caller's job group, where ``cancelJobGroup`` cannot reach them and
``statusTracker`` does not count them."""

from __future__ import annotations

import ast
from pathlib import Path

import data_ingestion_resolution_platform_spark as pkg

_THREAD_FACTORIES = {"ThreadPoolExecutor", "ThreadPool", "Thread", "InheritableThread"}
_HELPER = ("streaming/pipeline.py", ("run_concurrently",))


class _ThreadCalls(ast.NodeVisitor):
    """Calls of a thread factory, by name or attribute, with the names
    of the functions enclosing each call."""

    def __init__(self) -> None:
        self.scope: list[str] = []
        self.hits: list[tuple[int, tuple[str, ...]]] = []

    def visit_FunctionDef(self, node) -> None:
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node: ast.Call) -> None:
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in _THREAD_FACTORIES:
            self.hits.append((node.lineno, tuple(self.scope)))
        self.generic_visit(node)


def _thread_calls() -> list[tuple[str, int, tuple[str, ...]]]:
    root = Path(pkg.__file__).parent
    out = []
    for path in sorted(root.rglob("*.py")):
        finder = _ThreadCalls()
        finder.visit(ast.parse(path.read_text(), filename=str(path)))
        rel = path.relative_to(root).as_posix()
        out += [(rel, line, scope) for line, scope in finder.hits]
    return out


def test_threads_start_only_in_the_helper():
    calls = _thread_calls()
    outside = [f"{rel}:{line}" for rel, line, scope in calls if (rel, scope) != _HELPER]
    assert not outside, f"threads started outside run_concurrently: {outside}"
    # the scan sees the helper's own pool, so it is not vacuous
    assert [(rel, scope) for rel, _, scope in calls] == [_HELPER]
