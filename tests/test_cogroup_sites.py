"""Every per-segment postings kernel runs through ``Searcher.map_segments``.

``map_segments`` fans out over segment ids and each task reads its own
segment files, so no query kernel needs a shuffle. The package may hold
exactly one ``.cogroup(`` call, in ``combinedfield.py``, whose cogroup
joins the norms of several searchers per segment. A new entry point that
hand-writes a postings ⋈ norms cogroup fails here; pass a kernel to
``map_segments`` instead.
"""

from __future__ import annotations

import ast
from pathlib import Path

import lucene_spark

PACKAGE = Path(lucene_spark.__file__).parent


def _cogroup_sites() -> list[tuple[str, str]]:
    """``(path relative to the package, enclosing qualified name)`` of
    every ``.cogroup(...)`` call in the package."""
    sites = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                inner = scope + (child.name,)
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "cogroup"):
                sites.append((rel, ".".join(scope)))
            visit(child, inner)

    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        visit(ast.parse(path.read_text(encoding="utf-8")), ())
    return sites


def test_only_combinedfield_cogroups():
    sites = _cogroup_sites()
    assert len(sites) == 1, sites
    assert sites[0][0] == "operators/combinedfield.py", sites
