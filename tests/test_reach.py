"""Reach audit: every top-level function, class and constant of the
package is reached from a root, so dead code cannot build up again.

Roots are the names loaded in ``tests/``, ``perfbench/`` and
``__spark_entry__.py``, plus the package's module-level statements that
define no name (``ORACLE["k"] = ...`` and the like). A second audit
leaves ``tests/`` out of the roots, so package code that only a test
calls is caught too. Reach is by name and iterated to a fixpoint. A
string counts as a reference only when it is exactly an identifier (a
catalog key, a ``setattr`` target), so a docstring mention keeps
nothing alive. Dunder names are exempt. Pure AST: no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "llm_map_reduce_summarizer_spark"
TEST_FILES = sorted((REPO / "tests").glob("*.py"))
ROOT_FILES = [
    *TEST_FILES,
    *sorted((REPO / "perfbench").rglob("*.py")),
    REPO / "__spark_entry__.py",
]


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _defined(stmt: ast.stmt) -> list[str] | None:
    """Names a top-level statement defines; None for a root statement."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return None
    nodes = [n for t in targets for n in ast.walk(t)]
    nodes = [n for n in nodes if isinstance(n, ast.expr)]
    if not all(isinstance(n, (ast.Name, ast.Tuple)) for n in nodes):
        return None  # ORACLE["k"] = ... and the like
    return [n.id for n in nodes if isinstance(n, ast.Name)]


def unreached(roots: list[Path] = ROOT_FILES) -> list[str]:
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    todo: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).with_suffix("").as_posix()
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            names = _defined(stmt)
            if names is None:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    todo |= _refs(stmt)
            for name in names or ():
                defs.setdefault(name, []).append((mod, stmt))
    for path in roots:
        todo |= _refs(ast.parse(path.read_text(encoding="utf-8")))
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        reached.add(name)
        for _, stmt in defs.get(name, ()):
            todo |= _refs(stmt) - reached
    return sorted(
        f"{mod}.{name}"
        for name, sites in defs.items()
        for mod, _ in sites
        if name not in reached
        and not (name.startswith("__") and name.endswith("__"))
    )


def test_every_package_definition_is_reached():
    assert unreached() == []


def test_package_code_is_reached_without_tests():
    roots = [p for p in ROOT_FILES if p not in TEST_FILES]
    assert unreached(roots) == [
        # the reduce sizing rule the summarizer's LLM reduce will call
        # (ROADMAP item 1); only its unit test calls it today
        "operators/aggregator.dynamic_batch_size",
        # the exact top-k that the approximate top-k tests compare against
        "operators/similarity.cosine_topk",
        # the raw events source schema the stream tests read with
        "streaming/stream_ops.EVENTS_SCHEMA",
    ]
