"""Every module of the package is reached from outside its own tests.

An AST scan of the import statements in the package, ``ragbench/``,
``scripts/``, ``__spark_entry__.py`` and ``bench.py``: each non-package
module under ``data_engineering_rag_spark/`` must be imported by one of
them other than itself. A module that only its tests import is code no
user path runs; delete it with its tests. No Spark session is needed."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "data_engineering_rag_spark"


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: Path) -> set[str]:
    """The dotted names ``path`` imports, relative imports resolved: for
    ``from a import b`` both ``a`` and ``a.b``, as ``b`` may be a module."""
    package = _module_name(path)
    if path.name != "__init__.py":
        package = package.rpartition(".")[0]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            stem = node.module
            if node.level:
                parts = package.split(".")
                base = parts[: len(parts) - node.level + 1]
                stem = ".".join([*base, node.module] if node.module else base)
            names.add(stem)
            names.update(f"{stem}.{alias.name}" for alias in node.names)
    return names


def test_every_module_is_imported_outside_its_tests():
    sources = [
        *(ROOT / PACKAGE).rglob("*.py"),
        *(ROOT / "ragbench").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
    ]
    importers: dict[str, set[str]] = {}
    for path in sources:
        for name in _imported(path):
            importers.setdefault(name, set()).add(_module_name(path))
    modules = {
        _module_name(p) for p in (ROOT / PACKAGE).rglob("*.py") if p.name != "__init__.py"
    }
    orphans = sorted(m for m in modules if not importers.get(m, set()) - {m})
    assert orphans == [], f"imported by nothing but their tests: {orphans}"
