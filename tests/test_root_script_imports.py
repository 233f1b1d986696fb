"""Every ``from polars_genson_spark... import name`` in a root-level
script resolves, so deleting a package symbol cannot leave a broken
script behind unnoticed. Parses the scripts with ``ast`` (nothing is
executed) and checks function-level imports too.

Likewise every ``polars_genson_spark.jobs <subcommand>`` named in a root
script, the README or the verify skill answers ``<subcommand> --help``,
so deleting a subcommand cannot leave a stale command line behind."""

from __future__ import annotations

import ast
import importlib
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "polars_genson_spark"
SCRIPTS = sorted(ROOT.glob("*.py"))
CLI_DOCS = [
    *SCRIPTS,
    *sorted(ROOT.glob("*.sh")),
    ROOT / "README.md",
    ROOT / ".claude" / "skills" / "verify" / "SKILL.md",
]
# the lookahead keeps one command's tail from swallowing the next one
JOBS = re.compile(r"polars_genson_spark\.jobs\b(?=([^`#]{0,120}))")


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


def _cli_references() -> dict[str, list[str]]:
    """subcommand -> the files naming it. The subcommand is the first
    bare lowercase word after the module name: global options and their
    values (``--shuffle-partitions 256``, ``str(cores * 8)``) never match."""
    refs: dict[str, list[str]] = {}
    for path in CLI_DOCS:
        if not path.exists():
            continue
        for m in JOBS.finditer(path.read_text()):
            for tok in re.findall(r"[^\s\"',\\]+", m.group(1)):
                if re.fullmatch(r"[a-z][a-z-]*", tok):
                    refs.setdefault(tok, []).append(path.name)
                    break
    return refs


CLI_REFS = _cli_references()


def test_cli_references_found():
    assert {"validate", "curate"} <= set(CLI_REFS)


@pytest.mark.parametrize("sub", sorted(CLI_REFS))
def test_cli_reference_answers_help(sub, capsys):
    from polars_genson_spark import jobs

    with pytest.raises(SystemExit) as exc:
        jobs.main([sub, "--help"])
    assert exc.value.code == 0, (sub, CLI_REFS[sub], capsys.readouterr().err)
