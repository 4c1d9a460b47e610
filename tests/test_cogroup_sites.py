"""Every per-segment kernel runs through a shuffle-free fan-out.

``Searcher.map_segments`` (and ``combinedfield``, which reads several
searchers' segments at once) fans out over segment ids with
``search.fan_out``, and each task reads its own segment files, so no query
kernel needs a shuffle. A new entry point that hand-writes a postings ⋈
norms cogroup, or a grouped map over a ``Searcher`` DataFrame, fails here;
pass a kernel to ``map_segments`` or ``fan_out`` instead.

A merge streams the term-sorted inputs the same way: its tasks read the
segment files by term or doc-id range, so it needs neither a range shuffle
nor a broadcast.

Tombstones and docvalues updates are written on the driver, which holds
them as every reader does; finding a term's docs is one fan-out. So
neither ``delete.py`` nor ``docvalues.py`` shuffles or maps partitions by
hand, and only the one segment-set commit builds the term dictionary, with
one fan-out over term ranges and no Spark writer.
"""

from __future__ import annotations

import ast
from pathlib import Path

import lucene_spark

PACKAGE = Path(lucene_spark.__file__).parent


def _call_sites(attr: str, calls: bool = True) -> list[tuple[str, str]]:
    """``(path relative to the package, enclosing qualified name)`` of
    every ``.<attr>(...)`` or ``<attr>(...)`` call in the package, or with
    ``calls=False`` of every ``.<attr>`` attribute read."""
    sites = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                inner = scope + (child.name,)
            if (isinstance(child, ast.Call)
                    and attr in (getattr(child.func, "attr", None),
                                 getattr(child.func, "id", None))) or (
                    not calls and isinstance(child, ast.Attribute)
                    and child.attr == attr):
                sites.append((rel, ".".join(scope)))
            visit(child, inner)

    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        visit(ast.parse(path.read_text(encoding="utf-8")), ())
    return sites


def test_no_cogroup_sites():
    assert _call_sites("cogroup") == []


def test_search_has_no_grouped_map():
    sites = [s for s in _call_sites("applyInPandas")
             if s[0] == "operators/search.py"]
    assert sites == []


def test_merge_has_no_shuffle_or_broadcast():
    for attr in ("repartitionByRange", "broadcast"):
        sites = [s for s in _call_sites(attr)
                 if s[0] == "operators/merge.py"]
        assert sites == [], attr


def test_delete_has_no_shuffle_or_partition_map():
    for attr in ("repartitionByRange", "dropDuplicates", "mapInPandas"):
        sites = [s for s in _call_sites(attr)
                 if s[0] == "operators/delete.py"]
        assert sites == [], attr


def test_docvalues_has_no_shuffle_or_partition_map():
    for attr in ("groupBy", "repartitionByRange", "mapInPandas"):
        sites = [s for s in _call_sites(attr)
                 if s[0] == "operators/docvalues.py"]
        assert sites == [], attr


def test_one_term_stats_call_site():
    assert _call_sites("compute_term_stats") == [
        ("operators/build.py", "commit_segments")]


def test_commit_has_no_shuffle_or_spark_writer():
    """The dictionary is written by one fan-out over term ranges with
    pyarrow, like the segment files; nothing on the commit path groups,
    range-partitions, sorts or writes through Spark."""
    for attr in ("groupBy", "repartitionByRange", "sortWithinPartitions",
                 "write"):
        sites = [s for s in _call_sites(attr, calls=False)
                 if s[0] == "operators/build.py" and s[1].split(".")[0]
                 in ("compute_term_stats", "commit_segments")]
        assert sites == [], attr
