"""Every top-level def and constant of the engine package is reachable
by name from something that runs it.

Roots are the package's module-level statements other than plain
definitions (subscript assignments such as
`ORACLE_SQL["ops_concurrent_full"] = ...`, `if` blocks) and every name
used anywhere in `bench.py`, `__spark_entry__.py`, `perfbench/*.py`
and `tests/*.py`. A definition is reached once a reached body names
it, as a bare name or as an attribute; its own body then counts as
reached too. Names match across modules, so `registry.QUERIES` and
`oracles.ORACLE_SQL` in `__spark_entry__.py` reach every module's
`QUERIES`/`ORACLE_SQL` dict and through them each declared key.
`tools/` is not a root, so engine code kept only for a one-off probe
fails here.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "distributed_graph_database_spark"
ENTRY_FILES = ["bench.py", "__spark_entry__.py", "perfbench/*.py", "tests/*.py"]


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a module-level statement only defines ([] if it does more)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign) and all(
        isinstance(t, ast.Name) for t in stmt.targets
    ):
        return [t.id for t in stmt.targets]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def unreachable() -> list[str]:
    bodies: dict[str, list[ast.AST]] = {}
    reached: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = _defined(stmt)
            if not names:
                reached |= _names(stmt)
            for name in names:
                bodies.setdefault(name, []).append(stmt)
    for pattern in ENTRY_FILES:
        for path in sorted(REPO.glob(pattern)):
            reached |= _names(ast.parse(path.read_text()))
    todo = list(reached)
    while todo:
        for stmt in bodies.get(todo.pop(), []):
            for name in _names(stmt) - reached:
                reached.add(name)
                todo.append(name)
    return sorted(
        name
        for name in bodies
        if not (name.startswith("__") and name.endswith("__"))
        and name not in reached
    )


def test_every_package_definition_is_reachable():
    dead = unreachable()
    assert not dead, f"defined but reached by nothing: {', '.join(dead)}"
