"""No package definition may be reachable from tests alone.

A static name-closure over the sources, no Spark session. The
production roots are every package module's top-level statements
other than imports and ``__all__`` (this covers each module's
``QUERIES`` registration and ``__main__``'s entry point),
plus ``bench.py``, ``__spark_entry__.py``, the non-test
``perfbench/*.py`` files and ``scripts/*.py``. From the roots, every
identifier, attribute name and identifier-like string constant (the
benchmark patches readers through ``getattr``/``setattr``) reaches the
top-level ``def``/``class`` of that name, whose body then reaches more.
Matching is by bare name, so a collision can only hide dead code,
never flag live code.

A top-level definition outside that closure is reached from tests
alone, or from nothing: delete it with its tests, or allowlist it
below with the reason it stays.
"""

from __future__ import annotations

import ast
import glob
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "rdbms_metadata_manager_spark")

ALLOWLIST = {
    "streaming/minhash_ingest.py::stream_survivor_spec": (
        "batch reference that test_round8_ops compares the streamed "
        "stream_dedup_minhash_bands query against"
    ),
}


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` mentions: names, attributes, and
    string constants that could name a definition."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _is_all(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def _package_defs() -> tuple[dict[str, list[tuple[str, ast.AST]]], set[str]]:
    """(name → [(file::name, node)], names the module bodies mention)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(glob.glob(f"{_PKG}/**/*.py", recursive=True)):
        rel = os.path.relpath(path, _PKG)
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((f"{rel}::{stmt.name}", stmt))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)) and not _is_all(stmt):
                roots |= _names(stmt)
    return defs, roots


def _closure(defs, seeds: set[str]) -> set[str]:
    reached: set[str] = set()
    todo = [n for n in seeds if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo.extend(n for n in _names(node) if n in defs and n not in reached)
    return reached


def _file_names(patterns: list[str]) -> set[str]:
    out: set[str] = set()
    for pattern in patterns:
        for path in glob.glob(os.path.join(_REPO, pattern)):
            if not os.path.basename(path).startswith("test_"):
                out |= _names(_parse(path))
    return out


@pytest.fixture(scope="module")
def production() -> tuple[dict, set[str]]:
    """(the package's top-level definitions, the names roots reach)."""
    defs, roots = _package_defs()
    roots |= _file_names(
        ["bench.py", "__spark_entry__.py", "perfbench/*.py", "scripts/*.py"]
    )
    return defs, _closure(defs, roots)


def test_every_definition_is_reached_from_production(production):
    defs, reached = production
    unreached = sorted(
        (key, node.end_lineno - node.lineno + 1)
        for name, entries in defs.items()
        if name not in reached
        for key, node in entries
        if key not in ALLOWLIST
    )
    assert not unreached, (
        f"{len(unreached)} definitions ({sum(n for _, n in unreached)} lines) "
        "are reached from no production root, only from tests/ or nothing; "
        "delete them with their tests or allowlist them with a reason:\n"
        + "\n".join(f"  {key} ({n} lines)" for key, n in unreached)
    )


def test_allowlist_entries_exist_and_are_test_only(production):
    defs, reached = production
    keys = {key for entries in defs.values() for key, _ in entries}
    for key, reason in ALLOWLIST.items():
        assert key in keys, f"allowlisted {key} no longer exists"
        assert key.split("::")[1] not in reached, f"{key} is live; unlist it"
        assert reason.strip(), f"{key} needs a reason"
