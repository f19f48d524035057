"""Every top-level function and class of the package is used somewhere.

A function nothing calls is dead code that still has to be read and kept
working. Stdlib only: each module under ``opentelemetry_collector_spark/``
is parsed with ``ast``, and a top-level ``def`` or ``class`` whose name
occurs, as a whole word, nowhere but its own definition in the package,
``__spark_entry__.py``, ``main.py``, ``perfbench/`` or ``tests/`` fails.
A name counts wherever it occurs, in strings too (perfbench patches
functions by name). A definition whose line carries ``# noqa`` is
exempt."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "opentelemetry_collector_spark"


def _sources() -> dict[Path, str]:
    paths = [*PACKAGE.rglob("*.py"), ROOT / "__spark_entry__.py", ROOT / "main.py",
             *(ROOT / "perfbench").rglob("*.py"), *(ROOT / "tests").rglob("*.py")]
    return {p: p.read_text() for p in paths}


def unreferenced_defs(sources: dict[Path, str]) -> list[str]:
    words: dict[str, int] = {}
    for text in sources.values():
        for w in re.findall(r"\w+", text):
            words[w] = words.get(w, 0) + 1
    hits = []
    for path, text in sorted(sources.items()):
        if not path.is_relative_to(PACKAGE):
            continue
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if "# noqa" in lines[node.lineno - 1] or words[node.name] > 1:
                continue
            hits.append(f"{path.relative_to(ROOT)}:{node.lineno}: {node.name}")
    return hits


def test_package_defs_are_referenced():
    hits = unreferenced_defs(_sources())
    assert not hits, "defined but never referenced:\n" + "\n".join(hits)
