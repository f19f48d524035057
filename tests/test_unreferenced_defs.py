"""Every top-level function, class and method of the package is used
somewhere.

A function nothing calls is dead code that still has to be read and kept
working. Stdlib only: each module under ``opentelemetry_collector_spark/``
is parsed with ``ast``, and a top-level ``def`` or ``class``, or a
method of a top-level class, that nothing in the package,
``__spark_entry__.py``, ``main.py``, ``perfbench/`` or ``tests/``
references fails. A reference is a name, an attribute access, a name
imported from the package, or a word in a string (perfbench patches
functions by name). An attribute of a module or object imported from
outside the package is not one: ``pq.read_table`` does not keep a
``read_table`` def alive. A definition whose line carries ``# noqa`` is
exempt.

A second check counts only production callers (the package,
``__spark_entry__.py``, ``main.py``, ``perfbench/``): a def that only
``tests/`` use fails unless ``TEST_ONLY`` lists it."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "opentelemetry_collector_spark"


def _sources() -> dict[Path, str]:
    paths = [*PACKAGE.rglob("*.py"), ROOT / "__spark_entry__.py", ROOT / "main.py",
             *(ROOT / "perfbench").rglob("*.py"), *(ROOT / "tests").rglob("*.py")]
    return {p: p.read_text() for p in paths}


def _references(tree: ast.Module) -> Counter:
    """Names, attribute accesses, names imported from the package and
    string words in ``tree``; attribute accesses on a name bound to an
    import from outside the package are left out."""
    foreign = {
        a.asname or a.name.split(".")[0]
        for node in ast.walk(tree) if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
        if not (getattr(node, "module", None) or a.name).startswith(PACKAGE.name)
    }
    refs: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            if not (isinstance(node.value, ast.Name) and node.value.id in foreign):
                refs[node.attr] += 1
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE.name):
            refs.update(a.name for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.update(re.findall(r"\w+", node.value))
    return refs


def unreferenced_defs(sources: dict[Path, str]) -> list[str]:
    trees = {path: ast.parse(text) for path, text in sources.items()}
    refs: Counter = sum(map(_references, trees.values()), Counter())
    hits = []
    for path, tree in sorted(trees.items()):
        if not path.is_relative_to(PACKAGE):
            continue
        lines = sources[path].splitlines()
        for node, qualname in _defs(tree):
            if "# noqa" in lines[node.lineno - 1] or refs[node.name]:
                continue
            hits.append(f"{path.relative_to(ROOT)}:{node.lineno}: {qualname}")
    return hits


def _defs(tree: ast.Module):
    """Top-level defs and classes, and the methods of each class (as
    ``Class.method``; dunder methods are called by Python itself)."""
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for node in tree.body:
        if not isinstance(node, kinds):
            continue
        yield node, node.name
        if isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, kinds[:2]) and not m.name.startswith("__"):
                    yield m, f"{node.name}.{m.name}"


def test_library_attribute_is_no_reference():
    """``pq.read_table`` names pyarrow's function, not the package's
    ``read_table``; a call through a package module does reference it."""
    sources = {
        PACKAGE / "m.py": "def read_table(path):\n    return path\n",
        ROOT / "main.py": "import pyarrow.parquet as pq\n\npq.read_table('x')\n",
    }
    assert unreferenced_defs(sources) == ["opentelemetry_collector_spark/m.py:1: read_table"]
    sources[ROOT / "main.py"] += "from opentelemetry_collector_spark import m\n\nm.read_table('x')\n"
    assert unreferenced_defs(sources) == []


def test_package_defs_are_referenced():
    hits = unreferenced_defs(_sources())
    assert not hits, "defined but never referenced:\n" + "\n".join(hits)


# Package defs that only tests use: production code a test keeps alive.
# The list may shrink (delete the def, or use it) but never grow.
TEST_ONLY = {
    "functions/maps.py: map_contains",
    "functions/maps.py: map_merge",
    "functions/maps.py: map_remove_if",
    "functions/values.py: lift_attrs",
    "functions/values.py: vbytes",
    "functions/values.py: vempty",
    "functions/values.py: vmap_keep_keys",
    "operators/aggregate.py: cardinality_guard",
    "operators/attributes.py: drop_where",
    "operators/similarity.py: load_ivf_index",
    "operators/similarity.py: save_ivf_index",
    "plans/config.py: ServiceConfig.from_files",
    "plans/errors.py: with_retry",
    "plans/featuregate.py: Registry.flag_string",
    "plans/partitioning.py: salted_group_count",
    "sources/otlp_proto.py: decode_spans_proto",
    "sinks/tables.py: TableCatalog.overwrite_bucketed",
    "sources/otlp_proto.py: encode_spans_proto",
    "streaming/stream.py: conversation_state_tracker",
}


def test_no_new_test_only_defs():
    tests = ROOT / "tests"
    hits = {
        re.sub(r"^opentelemetry_collector_spark/(.*):\d+:", r"\1:", h)
        for h in unreferenced_defs({p: t for p, t in _sources().items()
                                    if not p.is_relative_to(tests)})
    }
    assert not hits - TEST_ONLY, "used only by tests:\n" + "\n".join(sorted(hits - TEST_ONLY))
    assert not TEST_ONLY - hits, "no longer test-only, drop from TEST_ONLY:\n" + "\n".join(
        sorted(TEST_ONLY - hits))
