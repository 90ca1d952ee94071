"""Every script imports the checkout it sits in (no Spark): a script
that puts an absolute path on ``sys.path`` would silently import and
check whatever code lives at that path instead."""

from __future__ import annotations

import ast
import os
import pathlib

SCRIPTS = pathlib.Path(__file__).resolve().parents[1] / "scripts"


def test_no_script_puts_an_absolute_path_on_sys_path():
    found = []
    for path in sorted(SCRIPTS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append", "extend")
                and ast.unparse(node.func.value) == "sys.path"
            ):
                for arg in ast.walk(node):
                    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                        if os.path.isabs(arg.value):
                            found.append(f"{path.name}:{node.lineno} {arg.value}")
    assert list(SCRIPTS.glob("*.py"))
    assert not found, found
