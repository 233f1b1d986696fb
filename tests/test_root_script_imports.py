"""Every ``from polars_genson_spark... import name`` in a root-level
script resolves, so deleting a package symbol cannot leave a broken
script behind unnoticed. Parses the scripts with ``ast`` (nothing is
executed) and checks function-level imports too."""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "polars_genson_spark"
SCRIPTS = sorted(ROOT.glob("*.py"))


def _package_imports(path: pathlib.Path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod == PACKAGE or mod.startswith(PACKAGE + "."):
                for alias in node.names:
                    yield node.lineno, mod, alias.name


def _resolves(mod: str, name: str) -> bool:
    module = importlib.import_module(mod)
    if name == "*" or hasattr(module, name):
        return True
    try:  # a submodule: from pkg import submodule
        importlib.import_module(f"{mod}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_scripts_found():
    assert any(p.name == "__spark_entry__.py" for p in SCRIPTS)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_package_imports_resolve(path):
    broken = [
        f"{path.name}:{line}: from {mod} import {name}"
        for line, mod, name in _package_imports(path)
        if not _resolves(mod, name)
    ]
    assert not broken, broken
