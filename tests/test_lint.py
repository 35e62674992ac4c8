"""Repo lint gates that the environment's package set can't provide
(no ruff/flake8 baked in): a tiny AST sweep standing in for F811.

Motivated by a real escape: round 4's wave 3 re-added
``read_jsonl_permissive`` to ``etl_hero_spark/io.py`` when an identical
definition already existed 250 lines up — the later ``def`` silently
shadowed the earlier one, and nothing failed because the bodies happened
to match. This test makes any future top-level re-definition (function,
class, or module constant shadowed by a later def) a hard CI failure.

Scope: every ``*.py`` under ``etl_hero_spark/``, the repo-root entry
points and the ``tools/`` scripts. Only *unconditional* top-level
definitions count — a name defined once in a ``try:`` and again in its
``except:`` (the optional-dependency gate pattern) is two branches of one
definition, not a shadow, so defs nested inside If/Try at module level
are exempt.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "etl_hero_spark"

MODULES = sorted(PACKAGE.rglob("*.py")) + [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "tools").glob("*.py")),
]


def _top_level_defs(tree: ast.Module) -> list[str]:
    """Names bound by unconditional top-level def/class statements."""
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
    return names


@pytest.mark.parametrize("path", MODULES, ids=lambda p: str(p.relative_to(REPO)))
def test_no_shadowed_top_level_definitions(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    names = _top_level_defs(tree)
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, (
        f"{path.relative_to(REPO)} defines {dupes} more than once at module "
        "top level — the later definition silently shadows the earlier one "
        "(F811). Delete one."
    )
