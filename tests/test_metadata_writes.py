"""Guard: the store's on-disk layout has one writer and one resolver.

Walks the AST (no Spark session) of the modules that keep metadata
files and asserts that

- every metadata write (``json.dump``, a write-mode ``open``, a file
  ``os.replace``/``os.rename``) sits inside ``durable.write_atomic`` —
  the temp-file + fsync + rename writer — or ``_log_commit_ts``, whose
  one-line append is an append by design. The directory renames of the
  branch-promote and compaction journals (``_apply_promote``,
  ``_apply_journal``) are exempt from the rename rule;
- a ``"commit="`` literal appears only inside ``TableStore._commit_dirs``
  (the one parser of commit dir names) and the path builders
  ``append_dir``/``delete_dir``.

A new hand-rolled write or a second dir listing fails this test.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "pantasia_db_sync_spark"
MODULES = [
    "durable.py",
    "pipeline/store.py",
    "streaming/cdc_state.py",
    "operators/ivf_index.py",
]
WRITERS = {"write_atomic", "_log_commit_ts"}
DIR_RENAMES = {"_apply_promote", "_apply_journal"}
COMMIT_NAMES = {"_commit_dirs", "append_dir", "delete_dir"}


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef)) and n.body:
            first = n.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _kind(node: ast.AST, docstrings: set[int]) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        if "commit=" in node.value and id(node) not in docstrings:
            return "commit="
        return None
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
        name = f"{f.value.id}.{f.attr}"
        if name in ("json.dump", "os.replace", "os.rename"):
            return name
    if isinstance(f, ast.Name) and f.id == "open":
        mode = node.args[1] if len(node.args) > 1 else None
        for kw in node.keywords:
            if kw.arg == "mode":
                mode = kw.value
        if mode is None:
            return None
        if isinstance(mode, ast.Constant) and not set("wax+") & set(mode.value):
            return None
        return "open-write"
    return None


def _sites() -> list[tuple[str, str, str]]:
    """(module, innermost enclosing def, kind) for every write or
    ``commit=`` site in MODULES."""
    out = []
    for rel in MODULES:
        tree = ast.parse((PKG / rel).read_text())
        docstrings = _docstrings(tree)

        def visit(node, fn, rel=rel, docstrings=docstrings):
            for child in ast.iter_child_nodes(node):
                name = child.name if isinstance(child, ast.FunctionDef) else fn
                kind = _kind(child, docstrings)
                if kind is not None:
                    out.append((rel, name, kind))
                visit(child, name)

        visit(tree, "<module>")
    return out


def test_metadata_is_written_only_by_the_atomic_writer():
    writes = [s for s in _sites() if s[2] != "commit="]
    bad = [
        s
        for s in writes
        if s[1] not in WRITERS
        and not (s[2] in ("os.replace", "os.rename") and s[1] in DIR_RENAMES)
    ]
    assert not bad, f"metadata written outside write_atomic: {bad}"
    # the writer itself is where the one temp-file rename lives
    assert ("durable.py", "write_atomic", "os.replace") in writes


def test_commit_dirs_are_parsed_only_by_the_resolver():
    sites = [s for s in _sites() if s[2] == "commit="]
    assert {s[1] for s in sites} == COMMIT_NAMES, sites
    assert all(s[0] == "pipeline/store.py" for s in sites), sites
