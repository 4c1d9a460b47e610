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

Multi-term queries expand on the driver, and search, percolation and
MemoryIndex share one query compile and one matcher. Every phrase and span
kernel is reached from the engine or the oracle. Every index write is
published through the one primitive, ``sources.catalog.publish``, and
every new segment is named by the catalog's one allocator. Every query
reads a segment's postings and norms through the one query-time reader,
``operators/segreader.py``. Every segment file format has one owner,
``functions/codec.py``: build and merge write postings rows and the norms
row through it, and every reader decodes them through it.
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


def test_build_shuffles_straight_to_its_segment():
    """One partition per segment: no grouped map sorts the build's input,
    and the content hash is the kernel's, not a JVM column."""
    for attr in ("groupBy", "applyInPandas", "sha2"):
        sites = [s for s in _call_sites(attr)
                 if s == ("operators/build.py", "build_index")]
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


def test_search_expands_without_sql_patterns():
    """Multi-term expansion reads the dictionary on the driver through
    ``plans.query.term_matcher``; no SQL pattern language or Spark
    edit distance stands behind it."""
    for attr in ("like", "rlike", "levenshtein"):
        sites = [s for s in _call_sites(attr)
                 if s[0] == "operators/search.py"]
        assert sites == [], attr


def _imports(rel: str) -> list[tuple[str | None, str, str]]:
    """``(module, name, enclosing qualified name)`` of every import in the
    package module ``rel``. ``module`` is the imported module's path
    relative to the package (None outside it); ``name`` is the imported
    name, or the module itself for ``import x``."""
    out = []

    def resolve(parts: list[str], level: int) -> str | None:
        if level:
            where = Path(rel).parents[level - 1]
        elif parts[:1] == ["lucene_spark"]:
            parts, where = parts[1:], Path()
        else:
            return None
        stem = where.joinpath(*parts)
        for cand in ((stem.with_suffix(".py"),) if parts else ()) + (
                stem / "__init__.py",):
            if (PACKAGE / cand).is_file():
                return cand.as_posix()
        return None

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                inner = scope + (child.name,)
            if isinstance(child, ast.Import):
                out.extend((resolve(a.name.split("."), 0), a.name,
                            ".".join(scope)) for a in child.names)
            elif isinstance(child, ast.ImportFrom):
                parts = child.module.split(".") if child.module else []
                # ``from . import x`` may name a submodule
                out.extend((resolve(parts + [a.name], child.level)
                            or resolve(parts, child.level), a.name,
                            ".".join(scope)) for a in child.names)
            visit(child, inner)

    visit(ast.parse((PACKAGE / rel).read_text(encoding="utf-8")), ())
    return out


def test_monitor_uses_the_engine_matcher():
    """Percolation matches with the engine's own matcher. Following its
    imports through the package, Monitor reaches no glob module; no
    module keeps a matcher of its own beside the engine's, and the query
    preparation Searcher and the memory segment share is defined once."""
    seen, todo = set(), ["streaming/monitor.py"]
    while todo:
        rel = todo.pop()
        if rel in seen or not (PACKAGE / rel).is_file():
            continue
        seen.add(rel)
        for mod, name, scope in _imports(rel):
            assert "fnmatch" not in name, rel
            if mod:
                # importing a module runs its packages' __init__ too
                todo.append(mod)
                todo.extend((p / "__init__.py").as_posix()
                            for p in Path(mod).parents)
    defs = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, []).append(
                    path.relative_to(PACKAGE).as_posix())
    assert defs["_resolve"] == defs["_compile"] == ["operators/search.py"]
    assert "_matches" not in defs and "_needs_positions" not in defs


def test_oracle_matcher_stays_in_the_oracle():
    """The oracle is the test reference, kept apart from the engine: no
    package module but the oracle itself imports it."""
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel != "oracle.py":
            assert not [n for m, n, _ in _imports(rel)
                        if m == "oracle.py"], rel


def test_phrase_and_span_kernels_are_reachable():
    """Every top-level function of ``functions/spans.py`` and
    ``functions/sloppy.py`` is reached from a package module outside those
    two files (the engine or the oracle), directly or through calls inside
    them. A kernel that only its own tests call fails here."""
    files = ("functions/spans.py", "functions/sloppy.py")
    defs = {(rel, node.name): node for rel in files
            for node in ast.parse((PACKAGE / rel).read_text(
                encoding="utf-8")).body
            if isinstance(node, ast.FunctionDef)}
    edges = {}
    for (rel, name), node in defs.items():
        used = {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
        edges[rel, name] = {(rel, n) for n in used if (rel, n) in defs} | {
            (mod, n) for mod, n, scope in _imports(rel)
            if (mod, n) in defs and (scope.split(".")[0] == name
                                     or not scope and n in used)}
    todo = [(mod, n)
            for path in sorted(PACKAGE.rglob("*.py"))
            if (rel := path.relative_to(PACKAGE).as_posix()) not in files
            for mod, n, _ in _imports(rel) if (mod, n) in defs]
    seen = set()
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo.extend(edges[key])
    assert sorted(set(defs) - seen) == []


def test_one_publish_primitive():
    """No package module but ``sources/catalog.py`` moves or links a path
    with ``os`` (``rename``, ``renames``, ``replace``, ``link``) or names a
    ``_tmp-`` entry: every index write goes through ``publish``."""
    moves = {"rename", "renames", "replace", "link"}
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "sources/catalog.py":
            continue
        text = path.read_text(encoding="utf-8")
        if "_tmp-" in text:
            sites.append((rel, "_tmp-"))
        for node in ast.walk(ast.parse(text)):
            if (isinstance(node, ast.Attribute) and node.attr in moves
                    and getattr(node.value, "id", None) == "os"):
                sites.append((rel, f"os.{node.attr}"))
            elif isinstance(node, ast.ImportFrom) and node.module == "os":
                sites += [(rel, f"os.{a.name}") for a in node.names
                          if a.name in moves]
    assert sites == []


def test_one_segment_id_allocator():
    """No package module but ``sources/catalog.py`` derives a new segment
    id: no ``max(<snapshot>.seg_ids) + 1`` and no ``seg_id_offset``. The
    one exception is ``Searcher._open``'s read-side offset that places
    several indexes' segments side by side (MultiSearcher); it names no
    segment."""
    patterns = ("seg_ids) + 1", "seg_id_offset")
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "sources/catalog.py":
            continue
        text = path.read_text(encoding="utf-8")
        sites += [(rel, p) for p in patterns for _ in range(text.count(p))]
    assert sites == [("operators/search.py", "seg_ids) + 1")]
    text = (PACKAGE / "operators" / "search.py").read_text(encoding="utf-8")
    opener = next(n for n in ast.walk(ast.parse(text))
                  if isinstance(n, ast.FunctionDef) and n.name == "_open")
    assert "seg_ids) + 1" in ast.get_source_segment(text, opener)


def test_one_segment_reader():
    """Query-time code takes a segment's postings and norms from the one
    per-process reader, ``operators/segreader.py``: no other code in
    ``search.py`` or ``combinedfield.py`` names ``postings.parquet`` or
    ``norms.parquet``. Writers (build, merge, delete, ``check_index``)
    read the files themselves."""
    files = {"postings.parquet", "norms.parquet"}

    def named(rel):
        return {node.value for node in ast.walk(ast.parse(
            (PACKAGE / rel).read_text(encoding="utf-8")))
            if isinstance(node, ast.Constant) and node.value in files}

    assert named("operators/segreader.py") == files
    for rel in ("operators/search.py", "operators/combinedfield.py"):
        assert named(rel) == set(), rel


def test_one_segment_codec():
    """No package module but ``functions/codec.py`` names the norms row's
    columns (``"norm_bytes"``, ``"global_doc_ids"``), encodes postings
    rows (``encode_postings_batch``) or walks the PFOR block stream
    (``for_unpack``, ``vbyte_decode``, ``_pfor_block_size``)."""
    codec = "functions/codec.py"
    names = {"norm_bytes", "global_doc_ids"}
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel != codec:
            sites += [(rel, node.value) for node in ast.walk(ast.parse(
                path.read_text(encoding="utf-8")))
                if isinstance(node, ast.Constant) and node.value in names]
    for attr in ("encode_postings_batch", "for_unpack", "vbyte_decode",
                 "_pfor_block_size"):
        sites += [(rel, attr) for rel, _ in _call_sites(attr) if rel != codec]
    assert sites == []
