"""One way to run, time and oracle-check a registry query:
``plans/registry.py`` owns the noop-sink write and the oracle
comparison's normalizers.

The guard walks the AST (no Spark session) of the package,
``bench.py``, ``scripts/`` and ``tests/``. A ``.format("noop")`` call
or a ``_norm_cell``/``_norm_rows``/``_value_hash`` def anywhere but
``registry.py`` fails it: each copy is a timer or a parity check that
can drift from the one the others use. ``perfbench/`` is the
benchmark's own harness and is not walked.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OWNER = "pantasia_db_sync_spark/plans/registry.py"
NORMALIZERS = {"_norm_cell", "_norm_rows", "_value_hash"}
# compares the sync's golden tables column by column, not a registry
# query with its oracle
ALLOWED = {("tests/test_pipeline_e2e.py", "_norm_cell")}


def _sources():
    yield ROOT / "bench.py"
    for d in ("pantasia_db_sync_spark", "scripts", "tests"):
        yield from sorted((ROOT / d).rglob("*.py"))


def _copies() -> list[tuple[str, int, str]]:
    """(file, line, what) for each noop-sink write or oracle
    normalizer outside the registry."""
    out = []
    for path in _sources():
        rel = path.relative_to(ROOT).as_posix()
        if rel == OWNER:
            continue
        for n in ast.walk(ast.parse(path.read_text(), rel)):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "format"
                and any(isinstance(a, ast.Constant) and a.value == "noop" for a in n.args)
            ):
                out.append((rel, n.lineno, "noop sink"))
            elif (
                isinstance(n, ast.FunctionDef)
                and n.name in NORMALIZERS
                and (rel, n.name) not in ALLOWED
            ):
                out.append((rel, n.lineno, n.name))
    return out


def test_registry_owns_the_noop_sink_and_the_oracle_normalizers():
    assert _copies() == []
