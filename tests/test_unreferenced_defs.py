"""Every top-level function, class and method of the package is reached
by code a shipped job runs, and every defaulted parameter is set by it.

A function nothing calls is dead code that still has to be read and kept
working. Stdlib only: each module under ``opentelemetry_collector_spark/``
is parsed with ``ast``. A reference is a name, an attribute access, a
name imported from the package, or a word in a string (perfbench patches
functions by name). A docstring is not a reference: the first string
statement of a module, class or function body names things for the
reader, not for Python. An attribute of a module or object imported from
outside the package is not one either: ``pq.read_table`` does not keep a
``read_table`` def alive.

Liveness is transitive. The roots are the files outside the package
(``__spark_entry__.py``, ``main.py``, ``bench.py``,
``bench_scaling.py``, ``perfbench/``, and for the first check
``tests/``), the package's module-level code and any def whose
line carries ``# noqa``. A top-level def or class, or a method of a
top-level class, is live when a live body references its name; only
live bodies count. The first check fails on a def nothing reaches; the
second leaves ``tests/`` out of the roots, so it fails on a def that
only tests reach, or that only such defs reach.

A third check covers the parameters of every package module: each
defaulted parameter of a function or method must be set by some
production call of that name, by keyword, by position or through
``*args``/``**kwargs``; an ``__init__`` counts calls of its class. A
parameter that production never sets has one value in use, so it is a
constant; ``UNSET_ALLOWED`` lists the ones only tests set."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "opentelemetry_collector_spark"
TESTS = ROOT / "tests"
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_KINDS = (*_FUNCS, ast.ClassDef)


def _sources() -> dict[Path, str]:
    paths = [*PACKAGE.rglob("*.py"), ROOT / "__spark_entry__.py", ROOT / "main.py",
             ROOT / "bench.py", ROOT / "bench_scaling.py",
             *(ROOT / "perfbench").rglob("*.py"), *TESTS.rglob("*.py")]
    return {p: p.read_text() for p in paths}


def _production(sources: dict[Path, str]) -> dict[Path, str]:
    return {p: t for p, t in sources.items() if not p.is_relative_to(TESTS)}


def _foreign(tree: ast.Module) -> set[str]:
    """Names ``tree`` binds to imports from outside the package."""
    return {
        a.asname or a.name.split(".")[0]
        for node in ast.walk(tree) if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
        if not (getattr(node, "module", None) or a.name).startswith(PACKAGE.name)
    }


def _docstrings(tree: ast.Module) -> set[int]:
    """ids of the docstring constants in ``tree``."""
    docs = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, *_KINDS)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                docs.add(id(first.value))
    return docs


def _references(nodes, foreign: set[str], docs: set[int]) -> set[str]:
    """Names, attribute accesses, names imported from the package and
    string words under ``nodes``; attribute accesses on a name bound to
    an import from outside the package and docstrings are left out."""
    refs = set()
    for root in nodes:
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                if not (isinstance(node.value, ast.Name) and node.value.id in foreign):
                    refs.add(node.attr)
            elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE.name):
                refs.update(a.name for a in node.names)
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                  and id(node) not in docs):
                refs.update(re.findall(r"\w+", node.value))
    return refs


def _defs(tree: ast.Module):
    """(def, qualname, the nodes of its body) for each top-level def and
    class and each method of a class (as ``Class.method``). Dunder
    methods are called by Python itself, so they belong to their class's
    body, as do its decorators, bases and class-level statements."""
    for node in tree.body:
        if isinstance(node, _FUNCS):
            yield node, node.name, [node]
        elif isinstance(node, ast.ClassDef):
            methods = [m for m in node.body
                       if isinstance(m, _FUNCS) and not m.name.startswith("__")]
            body = [n for n in node.body if n not in methods]
            yield node, node.name, [*node.decorator_list, *node.bases, *node.keywords, *body]
            for m in methods:
                yield m, f"{node.name}.{m.name}", [m]


def unreferenced_defs(sources: dict[Path, str]) -> list[str]:
    """``<path>:<line>: <qualname>`` for each package def that no root
    reaches (see the module docstring)."""
    live: set[str] = set()
    pending = []
    for path, text in sorted(sources.items()):
        tree = ast.parse(text)
        foreign, docs = _foreign(tree), _docstrings(tree)
        if not path.is_relative_to(PACKAGE):
            live |= _references([tree], foreign, docs)
            continue
        live |= _references([n for n in tree.body if not isinstance(n, _KINDS)], foreign, docs)
        lines = text.splitlines()
        for node, qualname, body in _defs(tree):
            refs = _references(body, foreign, docs)
            if "# noqa" in lines[node.lineno - 1]:
                live |= refs
            else:
                pending.append((f"{path.relative_to(ROOT)}:{node.lineno}: {qualname}",
                                node.name, refs))
    reached = True
    while reached:
        reached = False
        for entry in [e for e in pending if e[1] in live]:
            pending.remove(entry)
            live |= entry[2]
            reached = True
    return [hit for hit, _, _ in pending]


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


def test_docstring_is_no_reference():
    """A def named only in docstrings is unreferenced; a plain string
    naming it (as perfbench's patch tables do) is a reference."""
    sources = {
        PACKAGE / "m.py": '"""See helper."""\n\n\ndef helper():\n    pass\n',
        ROOT / "main.py": '"""Runs helper."""\n\n\ndef run():\n    """Calls helper."""\n',
    }
    assert unreferenced_defs(sources) == ["opentelemetry_collector_spark/m.py:4: helper"]
    sources[ROOT / "main.py"] += 'PATCHED = [("opentelemetry_collector_spark.m", "helper")]\n'
    assert unreferenced_defs(sources) == []


def test_reference_from_test_only_def_does_not_count():
    """A def that only a test-only def calls is itself test-only."""
    sources = {
        PACKAGE / "m.py": "def helper():\n    pass\n\n\ndef tested():\n    return helper()\n",
        TESTS / "test_m.py": "from opentelemetry_collector_spark.m import tested\n\ntested()\n",
    }
    assert unreferenced_defs(sources) == []
    assert unreferenced_defs(_production(sources)) == [
        "opentelemetry_collector_spark/m.py:1: helper",
        "opentelemetry_collector_spark/m.py:5: tested",
    ]


def test_every_root_script_is_production():
    """Each script at the repo root is a root of both checks, so a def
    or parameter that only a bench script uses stays live."""
    assert set(ROOT.glob("*.py")) <= set(_sources())


def test_package_defs_are_referenced():
    hits = unreferenced_defs(_sources())
    assert not hits, "defined but never referenced:\n" + "\n".join(hits)


def test_no_new_test_only_defs():
    hits = unreferenced_defs(_production(_sources()))
    assert not hits, "reached only from tests:\n" + "\n".join(hits)


# Defaulted parameters that only tests set. The list may shrink but
# never grow: ``data_dir`` is a deployment path, and the dedup and ANN
# caps, sizes and fan-outs are the knobs their tests turn.
UNSET_ALLOWED = {
    "operators/dedup.py: connected_components.id_a",
    "operators/dedup.py: connected_components.id_b",
    "operators/dedup.py: connected_components.max_iters",
    "operators/dedup.py: connected_components.strict",
    "operators/dedup.py: embedding_neardup_pairs.max_cell",
    "operators/dedup.py: embedding_neardup_pairs.threshold",
    "operators/dedup.py: minhash_lsh_pairs.max_bucket",
    "operators/dedup.py: simhash_pairs.max_bucket",
    "operators/similarity.py: brute_force_topk.fanout",
    "operators/similarity.py: brute_force_topk.k",
    "operators/similarity.py: ivf_topk.fanout",
    "operators/similarity.py: ivf_topk.max_cell",
    "operators/similarity.py: lsh_topk.k",
    "plans/featuregate.py: Registry.register.to_version",
    "sqltext.py: kmeans_cells_cte.dim",
    "sqltext.py: kmeans_cells_cte.k",
    "streaming/stream.py: route_sink_writer.data_dir",
}


def _param_defs(tree: ast.Module):
    """(qualname, the name its callers call, def, leading parameters a
    call does not pass) for each top-level function and each method."""
    for node in tree.body:
        if isinstance(node, _FUNCS):
            yield node.name, node.name, node, 0
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, _FUNCS) and (m.name == "__init__" or not m.name.startswith("__")):
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
    """``<module>: <qualname>.<param>`` for each defaulted parameter of
    a package module that no production call sets."""
    calls: dict[str, list[ast.Call]] = {}
    for text in _production(sources).values():
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
    for path, text in sources.items():
        if not path.is_relative_to(PACKAGE):
            continue
        rel = path.relative_to(PACKAGE).as_posix()
        for qualname, callee, node, skip in _param_defs(ast.parse(text)):
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
    sources = {
        PACKAGE / "plans" / "config.py": (
            "def f(a, b=1, *, c=2):\n    pass\n"
            "class K:\n    def __init__(self, x=0):\n        pass\n"
            "    def m(self, y=0):\n        pass\n"),
        ROOT / "main.py": "f(0)\nK()\nK().m()\n",
        TESTS / "t.py": "f(0, 1, c=3)\nK(1)\nK().m(1)\n",
    }
    assert unset_parameters(sources) == {
        f"plans/config.py: {q}" for q in ("f.b", "f.c", "K.__init__.x", "K.m.y")}
    sources[ROOT / "main.py"] = "f(0, 1, **kw)\nK(1)\nK().m(y=1)\n"
    assert unset_parameters(sources) == set()


def test_parameter_ratchet_covers_every_module():
    """Operators, sources and the package root are checked, not only
    the flagship's run path."""
    sources = {
        PACKAGE / "operators" / "m.py": "def f(a, b=1):\n    pass\n",
        PACKAGE / "m.py": "def g(c=2):\n    pass\n",
        ROOT / "main.py": "f(0)\ng()\n",
    }
    assert unset_parameters(sources) == {"operators/m.py: f.b", "m.py: g.c"}


def test_package_parameters_are_set_by_production():
    hits = unset_parameters(_sources())
    assert not hits - UNSET_ALLOWED, "no production call sets:\n" + "\n".join(
        sorted(hits - UNSET_ALLOWED))
    assert not UNSET_ALLOWED - hits, "production sets it now, drop from UNSET_ALLOWED:\n" + (
        "\n".join(sorted(UNSET_ALLOWED - hits)))
