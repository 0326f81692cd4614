"""Rot guard for the scripts in ``jobs/`` (no Spark session needed).

The job scripts import library internals, often inside ``main()``, so a
rename or deletion in ``nerzo_spark`` only shows when someone next runs the
script.  Every ``jobs/*.py`` must compile, and every ``nerzo_spark`` module
and name it imports — at any nesting level — must resolve."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

JOBS = sorted((Path(__file__).resolve().parent.parent / "jobs").glob("*.py"))


def _nerzo_imports(tree: ast.AST) -> list[tuple[str, str | None]]:
    """(module, name) for every ``from nerzo_spark... import name`` and
    (module, None) for every ``import nerzo_spark...`` in the tree."""
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "nerzo_spark":
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.split(".")[0] == "nerzo_spark"]
    return out


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    # `from package import submodule` binds the submodule only once imported
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_jobs_dir_has_scripts():
    assert JOBS, "no jobs/*.py found"


@pytest.mark.parametrize("path", JOBS, ids=[p.name for p in JOBS])
def test_job_compiles_and_imports_resolve(path):
    src = path.read_text(encoding="utf-8")
    compile(src, str(path), "exec")
    missing = [
        f"{mod}.{name}" if name else mod
        for mod, name in _nerzo_imports(ast.parse(src, str(path)))
        if not _resolves(mod, name)
    ]
    assert not missing, f"{path.name}: unresolved imports {missing}"
