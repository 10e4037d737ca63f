"""Persist-hygiene audit (VERDICT r15 #5).

Statically scans every function in chyme_spark/ops/*.py (plus cli.py)
for ``.persist()`` calls and flags each persist without its own
release: the name the persisted frame is assigned to (``x = ....persist()``)
must have an ``x.unpersist(...)`` or an ``x.localCheckpoint(...)``
hand-off (ContextCleaner releases those blocks when the frame is
dropped) in the same function, or the persist carries an explicit
documentation marker on or near its line (``until-dropped``,
``ContextCleaner``, or ``session-scoped``) recording that the retention
is deliberate and bounded. A release of one frame clears no other
persist in the function, and a persist assigned to no plain name needs
the marker.

The r15 precedent: x_pagerank's leaked nodes/deg persists were fixed
while x_cross_source_leakage's identical leak was waved through with a
comment — this check makes the trade explicit for every future persist.

Usage: python tools/check_persists.py      # exit 1 on violations
Wired into tests/test_cli.py::test_persist_hygiene.
"""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCAN = [
    os.path.join(REPO, "chyme_spark", "ops"),
]
EXTRA_FILES = [os.path.join(REPO, "chyme_spark", "cli.py")]
MARKERS = ("until-dropped", "ContextCleaner", "session-scoped")
# how many lines above a persist call a justification comment may sit
MARKER_WINDOW = 6


def _functions(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node


def _is_call(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    )


def _persists(fn: ast.AST) -> list[tuple[int, int, str | None]]:
    """(first line, last line, assigned name or None) per persist call."""
    assigned = {
        id(node.value): node.targets[0].id
        for node in ast.walk(fn)
        if isinstance(node, ast.Assign)
        and _is_call(node.value, "persist")
        and len(node.targets) == 1
        and isinstance(node.targets[0], ast.Name)
    }
    # a persist at the end of a multi-line expression carries the
    # expression's START lineno; the justification comment sits on the
    # `.persist()` line itself — scan the whole span
    return [
        (node.lineno, getattr(node, "end_lineno", node.lineno), assigned.get(id(node)))
        for node in ast.walk(fn)
        if _is_call(node, "persist")
    ]


def _released(fn: ast.AST) -> set[str]:
    """Names with an ``.unpersist()`` or ``.localCheckpoint()`` call."""
    return {
        node.func.value.id
        for node in ast.walk(fn)
        if (_is_call(node, "unpersist") or _is_call(node, "localCheckpoint"))
        and isinstance(node.func.value, ast.Name)
    }


def check_file(path: str) -> list[str]:
    src = open(path).read()
    lines = src.splitlines()
    tree = ast.parse(src)
    violations = []
    for fn in _functions(tree):
        persists = _persists(fn)
        if not persists:
            continue
        released = _released(fn)
        for ln, end_ln, name in persists:
            if name in released:
                continue
            window = "\n".join(lines[max(0, ln - MARKER_WINDOW): end_ln + 1])
            if any(m in window for m in MARKERS):
                continue
            violations.append(
                f"{os.path.relpath(path, REPO)}:{ln} — persist() of "
                f"{name or 'an unnamed frame'} in {fn.name}() has no "
                f"unpersist/localCheckpoint of that name in scope and no "
                f"justification marker {MARKERS} within {MARKER_WINDOW} lines"
            )
    return violations


def main() -> int:
    files = list(EXTRA_FILES)
    for d in SCAN:
        files += [
            os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".py")
        ]
    violations = []
    for path in files:
        violations += check_file(path)
    for v in violations:
        print(v)
    if not violations:
        print(f"persist hygiene OK across {len(files)} files")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
