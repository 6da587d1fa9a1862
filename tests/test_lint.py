"""Repo lint gates that the environment's package set can't provide
(no ruff/flake8 baked in): a tiny AST sweep standing in for F811.

Motivated by a real escape: round 4's wave 3 re-added
``read_jsonl_permissive`` to ``etl_hero_spark/io.py`` when an identical
definition already existed 250 lines up — the later ``def`` silently
shadowed the earlier one, and nothing failed because the bodies happened
to match. This test makes any future top-level re-definition (function,
class, or module constant shadowed by a later def) a hard CI failure.

Scope: every ``*.py`` under ``etl_hero_spark/`` plus the repo-root entry
points. Only *unconditional* top-level definitions count — a name defined
once in a ``try:`` and again in its ``except:`` (the optional-dependency
gate pattern) is two branches of one definition, not a shadow, so defs
nested inside If/Try at module level are exempt.
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


# The persisted ANN indexes' on-disk layout (see the simsearch module
# docstring). Only simsearch.py may spell these paths; every other module
# reads and writes an index through simsearch's functions, so the format
# can change in one place. "_meta" is deliberately not a fragment: other
# modules use it in unrelated names.
INDEX_LAYOUT_FRAGMENTS = ("/centroids", "/codebooks", "/lists", "/codes", "/meta")


def test_index_layout_paths_only_in_simsearch():
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "simsearch.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                hits += [
                    f"{path.relative_to(REPO)}:{node.lineno} {frag!r}"
                    for frag in INDEX_LAYOUT_FRAGMENTS
                    if frag in node.value
                ]
    assert not hits, (
        "index layout paths outside etl_hero_spark/simsearch.py — read "
        "and write indexes through simsearch instead:\n" + "\n".join(hits)
    )
