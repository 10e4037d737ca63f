"""Dead-name guard: every module-level name in ``chyme_spark/`` is used.

A superseded window list or constant costs nothing at run time, so
nothing else ever notices it; this test does. It parses every
``chyme_spark`` module and fails on a module-level function, class or
assigned name that appears in no ``.py`` file of the repository except
at its own definition. ``@query``-registered functions (the registry
reaches them by name) and dunders such as ``__all__`` are exempt.
"""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

REPO = pathlib.Path(__file__).resolve().parent.parent


def _registered(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and "query" in (getattr(d.func, "id", None), getattr(d.func, "attr", None))
        for d in fn.decorator_list
    )


def _defined(stmt: ast.stmt) -> list[str]:
    """The names a top-level statement defines, less the exempt ones."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return [] if _registered(stmt) else [stmt.name]
    if isinstance(stmt, ast.ClassDef):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def test_no_unreferenced_module_level_names():
    sources = [
        p for p in REPO.rglob("*.py") if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    ]
    words = Counter(w for p in sources for w in re.findall(r"\w+", p.read_text()))
    definitions: Counter[str] = Counter()
    where: dict[str, str] = {}
    for path in sorted((REPO / "chyme_spark").rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            for name in _defined(stmt):
                definitions[name] += 1
                where.setdefault(name, f"{path.relative_to(REPO)}:{stmt.lineno} {name}")
    dead = sorted(where[n] for n, k in definitions.items() if words[n] <= k)
    assert not dead, f"module-level names nothing references: {dead}"
