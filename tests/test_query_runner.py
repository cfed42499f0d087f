"""One way to run, time and oracle-check a registry query:
``plans/registry.py`` owns the noop-sink write and the oracle
comparison's normalizers.

The guard walks the AST (no Spark session) of the package,
``bench.py``, ``scripts/`` and ``tests/``. A ``.format("noop")`` call
or a ``_norm_cell``/``_norm_rows``/``_value_hash`` def anywhere but
``registry.py`` fails it: each copy is a timer or a parity check that
can drift from the one the others use. ``perfbench/`` is the
benchmark's own harness and is not walked.

Two more owners are guarded the same way. Under ``plans/``, a
collected result is detached with ``registry.local_result``, never
``createDataFrame(<frame>.collect(), ...)``, which spreads a handful
of rows over ``defaultParallelism`` slices. The multimodal codecs'
Arrow plumbing is ``_per_id``/``_per_blob`` in
``operators/multimodal.py``: a ``.mapInPandas(`` anywhere else in that
module or in ``plans/llmdata.py`` is a hand-written copy of their
batch loop.
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


def _is_call(n: ast.AST, attr: str) -> bool:
    """``n`` is a call of a method named ``attr``."""
    return isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == attr


def _calls(tree: ast.AST, attr: str) -> list[ast.Call]:
    return [n for n in ast.walk(tree) if _is_call(n, attr)]


def _copies() -> list[tuple[str, int, str]]:
    """(file, line, what) for each noop-sink write or oracle
    normalizer outside the registry, and each collected result under
    ``plans/`` detached without ``local_result``."""
    out = []
    for path in _sources():
        rel = path.relative_to(ROOT).as_posix()
        if rel == OWNER:
            continue
        for n in ast.walk(ast.parse(path.read_text(), rel)):
            if _is_call(n, "format") and any(
                isinstance(a, ast.Constant) and a.value == "noop" for a in n.args
            ):
                out.append((rel, n.lineno, "noop sink"))
            elif (
                _is_call(n, "createDataFrame")
                and rel.startswith("pantasia_db_sync_spark/plans/")
                and n.args
                and _is_call(n.args[0], "collect")
            ):
                out.append((rel, n.lineno, "createDataFrame(collect)"))
            elif (
                isinstance(n, ast.FunctionDef)
                and n.name in NORMALIZERS
                and (rel, n.name) not in ALLOWED
            ):
                out.append((rel, n.lineno, n.name))
    return out


def test_registry_owns_the_noop_sink_and_the_oracle_normalizers():
    assert _copies() == []


MULTIMODAL = "pantasia_db_sync_spark/operators/multimodal.py"
BATCH_HELPERS = {"_per_id", "_per_blob"}


def _hand_written_batch_loops() -> list[tuple[str, int]]:
    """(file, line) of each ``mapInPandas`` call in the multimodal
    module outside its two helpers, and of each in ``plans/llmdata.py``."""
    out = []
    for rel in (MULTIMODAL, "pantasia_db_sync_spark/plans/llmdata.py"):
        tree = ast.parse((ROOT / rel).read_text(), rel)
        owned = {
            id(n)
            for d in tree.body
            if rel == MULTIMODAL and isinstance(d, ast.FunctionDef) and d.name in BATCH_HELPERS
            for n in _calls(d, "mapInPandas")
        }
        out += [(rel, n.lineno) for n in _calls(tree, "mapInPandas") if id(n) not in owned]
    return out


def test_multimodal_batch_loops_live_in_the_two_helpers():
    assert _hand_written_batch_loops() == []
