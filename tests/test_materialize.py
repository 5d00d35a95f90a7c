"""``session.materialize`` is the package's only materialization call:
no operator may hard-code where its intermediates live.  (Row identity
of the reliable and local arms is pinned by test_round19's
``test_materialize_modes_row_identical``.)"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "amazon_books_review_spark"


def _checkpoint_calls(tree: ast.AST, fn: str | None = None):
    """(line, enclosing function) of every ``x.localCheckpoint(...)``
    and ``x.checkpoint(...)`` call, except the streaming path helper
    ``paths.checkpoint(name)``."""
    for node in ast.iter_child_nodes(tree):
        inner = node.name if isinstance(node, ast.FunctionDef) else fn
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint")
            and not (
                isinstance(node.func.value, ast.Name)
                and node.func.value.id == "paths"
            )
        ):
            yield node.lineno, fn
        yield from _checkpoint_calls(node, inner)


def test_checkpoints_only_inside_materialize():
    stray = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for line, fn in _checkpoint_calls(ast.parse(path.read_text())):
            if (rel, fn) != ("session.py", "materialize"):
                stray.append(f"{rel}:{line}")
    assert not stray, f"checkpoint calls outside session.materialize: {stray}"
