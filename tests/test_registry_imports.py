"""Every import of the engine package resolves, and the registry and its
oracles name the same queries — checked without starting Spark.

Many imports of ``mediaduplicatefinder_spark`` sit inside query or
helper functions and only run when that function runs, so a deleted
module can leave a dangling import that nothing but a full oracle run
would reach. This walks the AST of every source file instead: module-
level and function-local imports alike, absolute and package-relative.
Only the imported engine modules are imported, never the scanned files.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import sys
from pathlib import Path

import __spark_entry__ as entry

PKG = "mediaduplicatefinder_spark"
ROOT = Path(__file__).resolve().parent.parent


def _sources() -> list[Path]:
    return [
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / PKG).rglob("*.py")),
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
    ]


def _package_of(path: Path) -> str:
    """Dotted package a file's relative imports resolve against."""
    return ".".join(path.relative_to(ROOT).parts[:-1])


def _engine_imports(path: Path):
    """(lineno, module, names) for each import of the engine package;
    ``names`` is empty for a plain ``import module``."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = _package_of(path).split(".")
                base = base[: len(base) - (node.level - 1)]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            if module.split(".")[0] == PKG:
                yield node.lineno, module, [a.name for a in node.names]


def _unresolved(module: str, names: list[str]) -> list[str]:
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError as e:
        return [f"module {module} ({e})"]
    missing = []
    for name in names:
        if hasattr(mod, name):
            continue
        try:  # `from package import submodule`
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    return missing


def test_every_engine_import_resolves():
    bad = []
    seen = 0
    for path in _sources():
        for lineno, module, names in _engine_imports(path):
            seen += 1
            for miss in _unresolved(module, names):
                bad.append(f"{path.relative_to(ROOT)}:{lineno}: {miss}")
    assert seen > 100, seen  # the walk really found the imports
    assert not bad, "dangling imports:\n" + "\n".join(bad)


def test_every_query_has_an_oracle():
    q, o = set(entry.queries()), set(entry.oracle_sql())
    assert q == o, {"no oracle": sorted(q - o), "no query": sorted(o - q)}


def _top_level_imports(path: Path):
    """(lineno, top-level module) for each absolute import in a file."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom) and not node.level:
            yield node.lineno, node.module.split(".")[0]


def test_every_script_import_resolves(monkeypatch):
    """A script's imports resolve from the repo root, where the scripts
    put themselves on the path (an import of a deleted root module, such
    as the old benchmark script, otherwise fails only when the script is
    run)."""
    monkeypatch.setattr(sys, "path", [str(ROOT), *sys.path])
    bad = [
        f"{path.relative_to(ROOT)}:{lineno}: {top}"
        for path in sorted((ROOT / "scripts").glob("*.py"))
        for lineno, top in _top_level_imports(path)
        if importlib.util.find_spec(top) is None
    ]
    assert not bad, "unresolved script imports:\n" + "\n".join(bad)
