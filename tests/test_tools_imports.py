"""Every in-repo import in ``tools/*.py`` resolves: a kept tool that still
imports a deleted module or function fails here, not on its next run."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))
IN_REPO = ("graphdb_td2_spark", "tools", "bench", "__spark_entry__")


def _in_repo_imports(path: Path) -> list[tuple[str, str | None]]:
    """``(module, name)`` for every in-repo import in ``path``, at any
    nesting depth; ``name`` is None for a plain ``import module``."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            out += [(node.module, a.name) for a in node.names]
    return [(m, n) for m, n in out if m.split(".")[0] in IN_REPO]


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_imports_resolve(path):
    for module, name in _in_repo_imports(path):
        mod = importlib.import_module(module)
        if name is not None and not hasattr(mod, name):
            importlib.import_module(f"{module}.{name}")  # a submodule


def test_import_walk_sees_tool_imports():
    scale = next(p for p in TOOLS if p.name == "scale.py")
    assert ("bench", "run_spark_probe") in _in_repo_imports(scale)
