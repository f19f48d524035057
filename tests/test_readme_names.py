"""Every backticked ``<module>.<name>`` in README.md names something the
package defines.

README maps each reference capability to the def that implements it, so
a deleted or renamed def must not leave its row pointing at nothing.
Stdlib only: ``<module>`` is a package path such as ``plans/errors`` or
a short name such as ``dedup`` (or a subpackage such as ``streaming``,
which stands for its modules), and ``<name>`` must be a top-level def,
class or assigned name of that module, or a method of one of its
classes. A backticked token whose module part is not a package module
(``service.pipelines``, ``Trigger.AvailableNow``) or that is a file name
(``main.py``) is not checked."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "opentelemetry_collector_spark"
FILE_SUFFIXES = {"py", "yaml", "md", "json"}
_TOKEN = re.compile(r"`([A-Za-z_][\w/]*)\.([A-Za-z_]\w*)`")


def _modules(ref: str) -> list[Path]:
    """The package modules ``ref`` stands for (empty if none)."""
    found = []
    for path in PACKAGE.rglob("*.py"):
        parts = path.relative_to(PACKAGE).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        for n in range(1, len(parts) + 1):
            if "/".join(parts[-n:]) == ref or "/".join(parts[:n]) == ref:
                found.append(path)
                break
    return found


def _names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
            if isinstance(node, ast.ClassDef):
                names.update(m.name for m in node.body
                             if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)))
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.add(node.target.id)
    return names


def stale_names(readme: str) -> list[str]:
    """``<module>.<name>`` tokens of ``readme`` whose package module does
    not define ``<name>``."""
    stale = []
    for module, name in _TOKEN.findall(readme):
        if name in FILE_SUFFIXES:
            continue
        paths = _modules(module)
        if paths and not any(name in _names(p) for p in paths):
            stale.append(f"{module}.{name}")
    return stale


def test_stale_name_is_caught():
    assert stale_names("`plans/errors.no_such_def` `dedup.no_such_def`") == [
        "plans/errors.no_such_def", "dedup.no_such_def"]
    assert stale_names("`plans/errors.PermanentError` `dedup.exact_dedup` "
                       "`streaming.run_available_now` `session._DEFAULTS` "
                       "`main.py` `service.pipelines`") == []


def test_readme_names_resolve():
    stale = stale_names((ROOT / "README.md").read_text())
    assert not stale, "README names what the package does not define:\n" + "\n".join(stale)
