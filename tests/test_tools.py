"""Every module a tools/ script imports must exist.

The scripts are run by hand, not imported by the suite, so a script
left importing a deleted module would only fail when someone next runs
it. This parses each script and resolves each import the way the
scripts arrange their path: repo root and tests/ first.
"""

from __future__ import annotations

import ast
import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = sorted((REPO / "tools").glob("*.py"))


def _imported_modules(path: Path) -> list[str]:
    names = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names.extend(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names.append(node.module)
    return names


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_imports_resolve(path, monkeypatch):
    monkeypatch.setattr(sys, "path", [str(REPO), str(REPO / "tests"), *sys.path])
    missing = [m for m in _imported_modules(path) if importlib.util.find_spec(m) is None]
    assert missing == [], f"{path.name} imports missing modules: {missing}"
