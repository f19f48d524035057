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
``tests/`` use fails unless ``TEST_ONLY`` lists it.

A third check covers the run path's parameters (``RUN_PATH``): each
defaulted parameter of a function or method there must be set by some
production call of that name, by keyword, by position or through
``*args``/``**kwargs``; an ``__init__`` counts calls of its class. A
parameter that production never sets has one value in use, so it is a
constant; a test that needs another value patches it in."""

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


def _foreign(tree: ast.Module) -> set[str]:
    """Names ``tree`` binds to imports from outside the package."""
    return {
        a.asname or a.name.split(".")[0]
        for node in ast.walk(tree) if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
        if not (getattr(node, "module", None) or a.name).startswith(PACKAGE.name)
    }


def _references(tree: ast.Module) -> Counter:
    """Names, attribute accesses, names imported from the package and
    string words in ``tree``; attribute accesses on a name bound to an
    import from outside the package are left out."""
    foreign = _foreign(tree)
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


# The flagship's batch, config and streaming run path.
RUN_PATH = [
    "plans/config.py", "plans/pipeline.py", "plans/checkpoint.py", "plans/lineage.py",
    "plans/errors.py", "sinks/tables.py", "streaming/stream.py",
]
# Defaulted run-path parameters that no production call sets. The list
# may shrink but never grow: ``data_dir`` is a deployment path.
UNSET_ALLOWED = {
    "streaming/stream.py: route_sink_writer.data_dir",
}


def _run_path_defs(tree: ast.Module):
    """(qualname, the name its callers call, def, leading parameters a
    call does not pass) for each top-level function and each method."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for node in tree.body:
        if isinstance(node, funcs):
            yield node.name, node.name, node, 0
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, funcs) and (m.name == "__init__" or not m.name.startswith("__")):
                    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                                 for d in m.decorator_list)
                    callee = node.name if m.name == "__init__" else m.name
                    yield f"{node.name}.{m.name}", callee, m, 0 if static else 1


def _sets(call: ast.Call, name: str, index: int) -> bool:
    """Whether ``call`` sets parameter ``name`` (positional ``index``,
    None for keyword-only)."""
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if index is not None and index < len(call.args):
        return True
    return any(kw.arg in (None, name) for kw in call.keywords)


def unset_parameters(sources: dict[Path, str]) -> set[str]:
    """``<module>: <qualname>.<param>`` for each defaulted run-path
    parameter that no production call sets."""
    calls: dict[str, list[ast.Call]] = {}
    for path, text in sources.items():
        if path.is_relative_to(ROOT / "tests"):
            continue
        tree = ast.parse(text)
        foreign = _foreign(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                calls.setdefault(f.id, []).append(node)
            elif isinstance(f, ast.Attribute) and not (
                    isinstance(f.value, ast.Name) and f.value.id in foreign):
                calls.setdefault(f.attr, []).append(node)
    hits = set()
    for rel in RUN_PATH:
        for qualname, callee, node, skip in _run_path_defs(ast.parse(sources[PACKAGE / rel])):
            if f"{rel}: {qualname}" in TEST_ONLY:
                continue
            a = node.args
            positional = [*a.posonlyargs, *a.args]
            defaulted = [(p.arg, i - skip) for i, p in enumerate(positional)
                         if i >= len(positional) - len(a.defaults)]
            defaulted += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for name, index in defaulted:
                if not any(_sets(c, name, index) for c in calls.get(callee, [])):
                    hits.add(f"{rel}: {qualname}.{name}")
    return hits


def test_parameter_ratchet_counts_every_way_to_set():
    """A parameter set by keyword, by position or through ``**kwargs``
    is set; a caller outside production does not count, and a method's
    positions start after ``self``."""
    mod = PACKAGE / RUN_PATH[0]
    sources = {p: "" for p in (PACKAGE / r for r in RUN_PATH)}
    sources[mod] = ("def f(a, b=1, *, c=2):\n    pass\n"
                    "class K:\n    def __init__(self, x=0):\n        pass\n"
                    "    def m(self, y=0):\n        pass\n")
    sources[ROOT / "main.py"] = "f(0)\nK()\nK().m()\n"
    sources[ROOT / "tests" / "t.py"] = "f(0, 1, c=3)\nK(1)\nK().m(1)\n"
    assert unset_parameters(sources) == {
        f"{RUN_PATH[0]}: {q}" for q in ("f.b", "f.c", "K.__init__.x", "K.m.y")}
    sources[ROOT / "main.py"] = "f(0, 1, **kw)\nK(1)\nK().m(y=1)\n"
    assert unset_parameters(sources) == set()


def test_run_path_parameters_are_set_by_production():
    hits = unset_parameters(_sources())
    assert not hits - UNSET_ALLOWED, "no production call sets:\n" + "\n".join(
        sorted(hits - UNSET_ALLOWED))
    assert not UNSET_ALLOWED - hits, "production sets it now, drop from UNSET_ALLOWED:\n" + (
        "\n".join(sorted(UNSET_ALLOWED - hits)))
