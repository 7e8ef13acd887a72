"""Package layering: the query registry (``queries.py``) is a leaf.

The registry is the driver contract over every operator family, so it
imports nearly the whole package.  If core code imported it back, the
import graph could no longer tell what the extraction job and the
curation pipeline need from what only the registry exercises.  This
walks the AST of every package module (function-level imports
included), so it needs no coverage tool and runs without Spark.

Run as a script to print the import closure of the entry points:
``python tests/test_layering.py``.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "article_extractor_spark"
ROOT = Path(__file__).resolve().parents[1] / PKG
REGISTRY = f"{PKG}.queries"
ENTRY_POINTS = (f"{PKG}.job", f"{PKG}.pipeline", f"{PKG}.streaming.ingest")
# Lines in the entry points' import closure, as measured when the
# registry-only definitions moved out of it.  The core may shrink; it
# may not grow past this.
CORE_LINE_BUDGET = 7939


def _modules() -> dict[str, Path]:
    mods = {}
    for path in sorted(ROOT.rglob("*.py")):
        parts = (PKG, *path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules ``name`` imports anywhere in its body."""
    is_pkg = path.name == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = name.split(".")
                base = base[: len(base) - node.level + is_pkg]
                if node.module:
                    base.append(node.module)
                target = ".".join(base)
            else:
                target = node.module or ""
            found.add(target)
            # ``from .functions import dedup`` imports a submodule
            found.update(f"{target}.{a.name}" for a in node.names)
    return {m for m in found if m in mods}


def _with_parents(mod: str) -> list[str]:
    """A module and the packages whose ``__init__`` importing it runs."""
    parts = mod.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def import_closure(roots) -> set[str]:
    mods = _modules()
    seen: set[str] = set()
    todo = [p for r in roots for p in _with_parents(r)]
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in mods:
            continue
        seen.add(mod)
        for dep in _imports(mod, mods[mod], mods):
            todo.extend(_with_parents(dep))
    return seen


def _lines(mods: dict[str, Path], names) -> int:
    return sum(len(mods[m].read_text().splitlines()) for m in names)


def test_no_package_module_imports_the_registry():
    mods = _modules()
    assert REGISTRY in mods
    importers = sorted(
        m
        for m, p in mods.items()
        if m != REGISTRY and REGISTRY in _imports(m, p, mods)
    )
    assert importers == []


def test_entry_point_closure_excludes_the_registry():
    closure = import_closure(ENTRY_POINTS)
    assert set(ENTRY_POINTS) <= closure
    assert REGISTRY not in closure


def test_core_closure_line_budget():
    closure = import_closure(ENTRY_POINTS)
    assert _lines(_modules(), closure) <= CORE_LINE_BUDGET


if __name__ == "__main__":
    mods = _modules()
    closure = import_closure(ENTRY_POINTS)
    n_core = _lines(mods, closure)
    print(f"core closure: {len(closure)} modules, {n_core} lines")
    print(f"package: {len(mods)} modules, {_lines(mods, mods)} lines")
    for m in sorted(set(mods) - closure):
        print(f"  outside: {m} ({_lines(mods, [m])})")
