"""Every import in ``bench.py`` and ``scripts/*.py`` resolves.

The scripts are not imported by the package or the other tests, so a
module they name can be deleted or a function renamed without any test
noticing until someone runs the script. This walks each file's AST —
imports inside function bodies included (``bench.py`` imports its
corpus builder lazily) — and checks, with the repo root and
``scripts/`` on ``sys.path`` as the scripts arrange for themselves,
that each module resolves and each imported name exists. It starts no
Spark session.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SOURCES = [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]


def _imports(path: Path):
    """``(module, name)`` for every import in ``path``; ``name`` is None
    for a plain ``import module``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, None
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"{path.name}: relative import"
            for alias in node.names:
                yield node.module, alias.name


def _found(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a missing parent, or a parent not a package
        return False


def _unresolved(module: str, name: str | None) -> str | None:
    if not _found(module):
        return f"no module {module!r}"
    if name is None or name == "*":
        return None
    if hasattr(importlib.import_module(module), name) or _found(f"{module}.{name}"):
        return None  # an attribute, or a submodule not yet imported
    return f"{module!r} has no {name!r}"


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_script_imports_resolve(path, monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT / "scripts"))
    monkeypatch.syspath_prepend(str(ROOT))
    problems = sorted(
        {p for m, n in _imports(path) if (p := _unresolved(m, n)) is not None}
    )
    assert not problems, f"{path.name}: {problems}"
