"""Every reference-source file cited in the engine's docstrings and
comments exists in the reference checkout.

Citations are written either absolute (``<root>/reference/backend/x.py``)
or relative to the checkout (``reference/backend/x.py``); the checkout
root is taken from the absolute ones. Skipped when the checkout is not
present."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest

import data_ingestion_resolution_platform_spark as pkg

_CITE = re.compile(r"(?P<root>/[\w./-]*?/)?reference/(?P<rel>backend(?:/[\w/.-]*\w)?)")


def _citations() -> list[tuple[str, str | None, str]]:
    out = []
    for path in sorted(Path(pkg.__file__).parent.rglob("*.py")):
        for m in _CITE.finditer(path.read_text()):
            root = m["root"] and os.path.join(m["root"], "reference")
            out.append((str(path), root, m["rel"]))
    return out


def test_cited_reference_files_exist():
    cites = _citations()
    roots = {root for _, root, _ in cites if root}
    assert len(roots) == 1, f"citations name several reference roots: {roots}"
    (root,) = roots
    if not os.path.isdir(root):
        pytest.skip("reference checkout not present")
    missing = sorted(
        f"{src}: {rel}" for src, _, rel in cites if not os.path.exists(os.path.join(root, rel))
    )
    assert not missing, missing
