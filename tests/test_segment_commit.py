"""One segment-set commit, and the docvalues overlay written on the driver.

A build, a merge, ``add_indexes`` and ``split_index`` all publish their
segment set through ``build.commit_segments``, which carries each
segment's tombstones, soft tombstones and docvalues updates. The tests
below check the overlay against values computed from the oracle's
postings after an import, a parent-style Spark-written overlay directory
through update, merge bake and carry, ``check_index``'s overlay checks,
the writers' refusals, the Spark jobs of the write paths, and that
``search_many`` ranks on the driver exactly as ``search`` does.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lucene_spark.operators.build import build_index
from lucene_spark.operators.checkindex import CheckIndexError, check_index
from lucene_spark.operators.delete import delete_by_term, load_deletes
from lucene_spark.operators.docvalues import (load_updates,
                                              update_numeric_docvalue,
                                              write_updates)
from lucene_spark.operators.merge import (add_indexes, merge_segments,
                                          split_index)
from lucene_spark.operators.search import Searcher
from lucene_spark.oracle import OracleIndex
from lucene_spark.plans import query as Q
from lucene_spark.sources.catalog import SnapshotCatalog
from lucene_spark.sources.corpus import generate_corpus

FIELD = "popularity"


def _frame(spark, corpus, offset: int = 0):
    return (spark.createDataFrame(corpus.assign(
        doc_id=corpus["doc_id"] + offset))
        .withColumn(FIELD, (F.col("doc_id") % 7).cast("long")))


def _docs(corpus, term: str, offset: int = 0) -> set[int]:
    oracle = OracleIndex.build(list(zip(corpus.doc_id + offset,
                                        corpus.content)))
    return {int(doc) for doc, _, _ in oracle.postings.get(term, ())}


def _resolved(spark, d: str) -> dict[int, int]:
    pdf = Searcher(spark, d).docvalues(FIELD).select(
        "doc_id", "value").toPandas()
    return dict(zip(pdf.doc_id.astype(int), pdf.value.astype(int)))


def test_add_indexes_carries_both_overlays(spark, tmp_path):
    """The imported docs keep the source's docvalues updates (under their
    new seg ids) and the destination keeps its own."""
    src_corpus = generate_corpus(200, seed=31)
    dst_corpus = generate_corpus(120, seed=5)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    build_index(spark, _frame(spark, src_corpus, 1000), src, num_segments=3)
    build_index(spark, _frame(spark, dst_corpus), dst, num_segments=2)
    update_numeric_docvalue(spark, src, "else", FIELD, 100)
    update_numeric_docvalue(spark, dst, "while", FIELD, 200)
    updated_src = _docs(src_corpus, "else", 1000)
    updated_dst = _docs(dst_corpus, "while")
    assert updated_src and updated_dst

    add_indexes(spark, dst, src)
    want = {d: d % 7 for d in
            [*(src_corpus.doc_id + 1000), *dst_corpus.doc_id]}
    want.update({d: 100 for d in updated_src})
    want.update({d: 200 for d in updated_dst})
    assert _resolved(spark, dst) == want
    totals = check_index(dst)
    assert totals["num_dv_updates"] == len(updated_src) + len(updated_dst)


def _chunk_layout(path: str) -> list[tuple]:
    """``(column, encodings, statistics set, min/max set)`` of every column
    chunk of the parquet file ``path``."""
    md = pq.ParquetFile(path).metadata
    out = []
    for r in range(md.num_row_groups):
        for c in range(md.num_columns):
            col = md.row_group(r).column(c)
            out.append((col.path_in_schema, col.encodings, col.is_stats_set,
                        col.is_stats_set and col.statistics.has_min_max))
    return out


def test_add_indexes_writes_segment_files_like_the_build(spark, tmp_path):
    """An imported segment's files follow the one segment-file policy
    (``build.write_segment_file``): every column chunk has the encodings
    and the statistics of the same file in the source segment."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    build_index(spark, _frame(spark, generate_corpus(200, seed=31), 1000),
                src, num_segments=2)
    build_index(spark, _frame(spark, generate_corpus(60, seed=5)), dst,
                num_segments=1)
    snap = add_indexes(spark, dst, src)
    imported = [s["seg_id"] for s in snap.segments
                if s.get("origin") == "addIndexes"]
    assert imported == [1, 2]
    layouts = set()
    for old, new in zip((0, 1), imported):
        for name in ("postings.parquet", "doc_meta.parquet",
                     "norms.parquet"):
            want = _chunk_layout(os.path.join(
                SnapshotCatalog(src).segment_dir(old), name))
            assert _chunk_layout(os.path.join(
                SnapshotCatalog(dst).segment_dir(new), name)) == want, name
            layouts.update((enc, stats) for _, enc, stats, _ in want)
    # the policy is not pyarrow's default: some chunks carry neither a
    # dictionary page nor statistics
    assert any("RLE_DICTIONARY" not in enc for enc, _ in layouts)
    assert any(not stats for _, stats in layouts)


def test_update_after_import_wins_over_the_carried_overlay(spark, tmp_path):
    """The source's overlay rows keep the ``gen`` of the source's
    generations, which may exceed the destination's: an update after the
    import must still replace them."""
    src_corpus = generate_corpus(200, seed=31)
    dst_corpus = generate_corpus(60, seed=5)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    build_index(spark, _frame(spark, src_corpus, 1000), src, num_segments=3)
    for i in range(4):
        update_numeric_docvalue(spark, src, "else", FIELD, 100 + i)
    build_index(spark, _frame(spark, dst_corpus), dst, num_segments=2)
    add_indexes(spark, dst, src)
    cat = SnapshotCatalog(dst)
    assert load_updates(cat, cat.load())["gen"].max() > \
        cat.load().snapshot_id
    update_numeric_docvalue(spark, dst, "else", FIELD, 500)
    want = {d: d % 7 for d in
            [*(src_corpus.doc_id + 1000), *dst_corpus.doc_id]}
    want.update({d: 500 for d in _docs(src_corpus, "else", 1000)})
    want.update({d: 500 for d in _docs(dst_corpus, "else")})
    assert _resolved(spark, dst) == want
    check_index(dst)


def _spark_written_overlay(spark, d: str, rows) -> None:
    """Commit ``rows`` as an overlay parquet directory of part files
    written by Spark, the layout earlier generations left in
    ``extra["dv_updates"]``."""
    cat = SnapshotCatalog(d)
    snap = cat.load()
    rel = os.path.join("dv_updates", "gen-0-spark")
    spark.createDataFrame(
        rows, "seg_id int, local_doc_id int, field string, value long, "
              "gen long").repartition(2).write.parquet(os.path.join(d, rel))
    extra = dict(snap.extra or {})
    extra["dv_updates"] = rel
    extra["num_dv_updates"] = len(rows)
    cat.commit(snap.segments, snap.field_stats, snap.term_stats_path,
               extra=extra)


def test_directory_overlay_updates_bakes_and_carries(spark, tmp_path):
    corpus = generate_corpus(200, seed=31)
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, corpus), d, num_segments=4)
    cat = SnapshotCatalog(d)
    snap = cat.load()
    # the overlay sets 50 on the first two docs of every segment
    _spark_written_overlay(spark, d, [
        (s["seg_id"], i, FIELD, 50, 1) for s in snap.segments
        for i in range(2)])
    assert os.path.isdir(os.path.join(d, cat.load().extra["dv_updates"]))
    first = set()
    for s in snap.seg_ids:
        gids = np.frombuffer(pq.read_table(
            os.path.join(cat.segment_dir(s), "norms.parquet"),
            columns=["global_doc_ids"]).column(0)[0].as_py(), "<i8")
        first |= {int(g) for g in gids[:2]}
    want = {int(i): int(i) % 7 for i in corpus.doc_id}
    want.update({g: 50 for g in first})
    assert _resolved(spark, d) == want
    check_index(d)

    update_numeric_docvalue(spark, d, "while", FIELD, 200)
    want.update({g: 200 for g in _docs(corpus, "while")})
    assert _resolved(spark, d) == want
    check_index(d)

    merged = sorted(cat.load().seg_ids)[:2]
    snap = merge_segments(spark, d, merged)
    assert _resolved(spark, d) == want
    left = load_updates(cat, snap)
    assert len(left) and not set(left["seg_id"]) & set(merged)
    assert check_index(d)["num_dv_updates"] == len(left)


def test_split_carries_the_overlay(spark, tmp_path):
    """A split keeps the kept segments' rows."""
    corpus = generate_corpus(200, seed=31)
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, corpus), d, num_segments=4)
    update_numeric_docvalue(spark, d, "else", FIELD, 100)
    rows = load_updates(SnapshotCatalog(d), SnapshotCatalog(d).load())
    kept = sorted(set(rows["seg_id"]))[:2]

    out = str(tmp_path / "split")
    split_index(spark, d, out, kept)
    got = load_updates(SnapshotCatalog(out), SnapshotCatalog(out).load())
    assert got.to_dict("list") == rows[rows["seg_id"].isin(kept)] \
        .reset_index(drop=True).to_dict("list")
    check_index(out)


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("overlay") / "idx")
    build_index(spark, _frame(spark, generate_corpus(120, seed=17)), d,
                num_segments=3)
    return d


@pytest.mark.parametrize("bad", ["negative", "num_docs", "unknown_segment"])
def test_overlay_writer_refuses_ids_outside_their_segment(small_index, bad):
    cat = SnapshotCatalog(small_index)
    snap = cat.load()
    s, n = snap.segments[0]["seg_id"], snap.segments[0]["num_docs"]
    seg, doc = {"negative": (s, -1), "num_docs": (s, n),
                "unknown_segment": (max(snap.seg_ids) + 1, 0)}[bad]
    rows = pd.DataFrame({
        "seg_id": [seg], "local_doc_id": [doc], "field": [FIELD],
        "value": [1], "gen": [1]})
    with pytest.raises(ValueError):
        write_updates(cat, snap.segments, snap.snapshot_id + 1, rows, {})


def _commit_overlay_file(d: str, rows, count: int) -> None:
    """Commit an overlay file holding ``rows`` as they are, written past
    the overlay writer, with ``count`` as its recorded count."""
    cat = SnapshotCatalog(d)
    snap = cat.load()
    os.makedirs(os.path.join(d, "dv_updates"), exist_ok=True)
    rel = os.path.join("dv_updates",
                       f"gen-{snap.snapshot_id + 1}-bad.parquet")
    pq.write_table(pa.table({
        "seg_id": pa.array([r[0] for r in rows], pa.int32()),
        "local_doc_id": pa.array([r[1] for r in rows], pa.int32()),
        "field": pa.array([r[2] for r in rows], pa.string()),
        "value": pa.array([7] * len(rows), pa.int64()),
        "gen": pa.array([1] * len(rows), pa.int64())}), os.path.join(d, rel))
    extra = dict(snap.extra or {})
    extra["dv_updates"] = rel
    extra["num_dv_updates"] = count
    cat.commit(snap.segments, snap.field_stats, snap.term_stats_path,
               extra=extra)


@pytest.mark.parametrize("bad", ["out_of_range", "unknown_segment",
                                 "duplicate_rows", "count"])
def test_check_index_checks_the_overlay(spark, tmp_path, bad):
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, generate_corpus(60, seed=19)), d,
                num_segments=2)
    seg = SnapshotCatalog(d).load().segments[0]
    s, n = seg["seg_id"], seg["num_docs"]
    rows, count = {
        "out_of_range": ([(s, n, FIELD)], 1),
        "unknown_segment": ([(s + 10, 0, FIELD)], 1),
        "duplicate_rows": ([(s, 1, FIELD), (s, 1, FIELD)], 2),
        "count": ([(s, 1, FIELD)], 2)}[bad]
    # the same doc under two fields is not a duplicate
    _commit_overlay_file(d, [(s, 1, FIELD), (s, 1, "other")], 2)
    check_index(d)
    _commit_overlay_file(d, rows, count)
    with pytest.raises(CheckIndexError):
        check_index(d)


def test_update_runs_at_most_one_job(spark_jobs, spark, small_index):
    """An update runs the one fan-out that finds its term's docs."""
    for i, term in enumerate(("else", "while")):
        _, jobs = spark_jobs(f"dv-update-{i}",
                             lambda: update_numeric_docvalue(
                                 spark, small_index, term, FIELD, 100 + i))
        assert len(jobs) <= 1, term


def test_merge_under_an_overlay_runs_at_most_seven_jobs(spark_jobs, spark,
                                                        tmp_path):
    """Merging 4 of 8 segments under an overlay runs the two body fan-outs
    and the commit's term-stats jobs; carrying the overlay runs none."""
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, generate_corpus(240, seed=7)), d,
                num_segments=8)
    update_numeric_docvalue(spark, d, "else", FIELD, 100)
    update_numeric_docvalue(spark, d, "while", FIELD, 200)
    snap = SnapshotCatalog(d).load()
    assert snap.extra["num_dv_updates"]
    _, jobs = spark_jobs("overlay-merge", lambda: merge_segments(
        spark, d, sorted(snap.seg_ids)[:4]))
    assert len(jobs) <= 7


def test_build_has_no_compute_stats_switch(spark, tmp_path):
    """An index without its dictionary answers every query with nothing,
    so the switch that committed one is gone."""
    with pytest.raises(TypeError):
        build_index(spark, _frame(spark, generate_corpus(20, seed=3)),
                    str(tmp_path / "idx"), num_segments=2,
                    compute_stats=False)


def test_search_many_ranks_like_search_in_one_job(spark_jobs, spark,
                                                  small_index):
    """Rows, ranks and float32 score bits equal each query's ``search``;
    the batch runs one Spark job."""
    s = Searcher(spark, small_index)
    workload = {"q_term": "parse", "q_or": "parse OR emit OR token",
                "q_and": "codec AND util", "q_not": "scan -flush",
                "q_phrase": Q.Phrase(("parse", "emit"), slop=4),
                "q_absent": "nosuchterm"}
    batch, jobs = spark_jobs("search-many",
                             lambda: s.search_many(workload, k=5).collect())
    assert len(jobs) == 1
    assert [f.simpleString() for f in
            s.search_many(workload, k=5).schema.fields] == \
        ["query_id:string", "doc_id:bigint", "score:float", "rank:int"]

    def bits(rows):
        return [(r["rank"], r["doc_id"],
                 int(np.float32(r["score"]).view(np.uint32)))
                for r in rows]

    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(r)
    assert "q_absent" not in got
    for qid, q in workload.items():
        want = bits(s.search(q, k=5).collect())
        assert sorted(bits(got.get(qid, []))) == want, qid
    assert all(len(v) <= 5 for v in got.values())


def test_tombstones_and_overlay_survive_an_append(spark, tmp_path):
    """An append build keeps the existing segments' tombstones and overlay
    rows: it rebuilds no segment, so the new generation points at the same
    files."""
    corpus = generate_corpus(200, seed=31)
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, corpus[corpus.doc_id < 150]), d,
                num_segments=3)
    delete_by_term(spark, d, "while")
    update_numeric_docvalue(spark, d, "else", FIELD, 100)
    cat = SnapshotCatalog(d)
    before = cat.load()
    build_index(spark, _frame(spark, corpus[corpus.doc_id >= 150]), d,
                num_segments=1)
    after = cat.load()
    assert len(after.seg_ids) == 4
    assert {s: v.tolist() for s, v in load_deletes(cat, after).items()} == \
        {s: v.tolist() for s, v in load_deletes(cat, before).items()}
    assert load_updates(cat, after).to_dict("list") == \
        load_updates(cat, before).to_dict("list")
    for key in ("deletes", "num_deleted", "dv_updates", "num_dv_updates"):
        assert after.extra[key] == before.extra[key], key
    check_index(d)
