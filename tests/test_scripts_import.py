"""Every import in ``bench.py`` and ``scripts/*.py`` resolves.

The scripts are not imported by the package or the other tests, so a
module they name can be deleted or a function renamed without any test
noticing until someone runs the script. This walks each file's AST —
imports inside function bodies included (``bench.py`` imports its
corpus builder lazily) — and checks, with the repo root and
``scripts/`` on ``sys.path`` as the scripts arrange for themselves,
that each module resolves and each imported name exists. It starts no
Spark session.

One test does run a script: ``check_queries.py`` on a Python-UDF query
from a directory other than the repo root, with no ``PYTHONPATH``, so
the Spark Python workers find the package only if the script exports
the root for them.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
import subprocess
import sys
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
    # importing a script exports the repo root on PYTHONPATH; undo it
    # after the test
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    problems = sorted(
        {p for m, n in _imports(path) if (p := _unresolved(m, n)) is not None}
    )
    assert not problems, f"{path.name}: {problems}"


def test_check_queries_runs_a_python_udf_query_outside_the_repo_root(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_TEST_SF_DIR"] = sf_dir
    r = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "check_queries.py"), "grouped_map_zscore"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0 and "grouped_map_zscore: PASS" in r.stdout, r.stdout + r.stderr[-2000:]
