"""Every name a package module imports is used in that module.

A deleted function leaves its imports behind; this catches them. Stdlib
only: each non-``__init__`` module under ``opentelemetry_collector_spark/``
is parsed with ``ast``, and an import whose bound name never appears as
a name anywhere in the module fails. An import statement carrying
``# noqa`` (a deliberate re-export or side-effect import) is exempt."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "opentelemetry_collector_spark"


def unused_imports(source: str) -> list[tuple[int, str]]:
    tree = ast.parse(source)
    lines = source.splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("# noqa" in ln for ln in lines[node.lineno - 1:node.end_lineno]):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            if name not in used:
                hits.append((node.lineno, name))
    return hits


def test_package_modules_have_no_unused_imports():
    modules = sorted(p for p in PACKAGE.rglob("*.py") if p.name != "__init__.py")
    assert modules
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{line}: {name}"
        for path in modules
        for line, name in unused_imports(path.read_text())
    ]
    assert not hits, "unused imports:\n" + "\n".join(hits)
