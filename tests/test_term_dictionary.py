"""The term dictionary a commit writes, checked against its segments.

Every segment-set commit (build, merge, ``add_indexes``, ``split_index``)
writes ``term_stats/gen-N`` with one shuffle-free fan-out over term
ranges: each task sums its range of every listed segment's ``(term, df,
ttf)`` with pyarrow and writes one term-sorted part file. The tests below
check, after each kind of commit and under one part or many, that the
committed rows equal the Spark aggregation the dictionary used to be
written with; that a leftover directory of a crashed commit cannot leak
stale rows; that a dictionary Spark wrote still reads; that
``check_index`` catches a broken dictionary; and the Spark jobs a build
and a merge run.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lucene_spark.operators import build as build_mod
from lucene_spark.operators.build import build_index
from lucene_spark.operators.checkindex import CheckIndexError, check_index
from lucene_spark.operators.delete import delete_by_term
from lucene_spark.operators.docvalues import update_numeric_docvalue
from lucene_spark.operators.merge import (add_indexes, merge_segments,
                                          split_index)
from lucene_spark.operators.search import MultiSearcher, Searcher
from lucene_spark.sources.catalog import SnapshotCatalog
from lucene_spark.sources.corpus import generate_corpus

SCHEMA = pa.schema([("term", pa.string()), ("df", pa.int64()),
                    ("ttf", pa.int64())])


def _frame(spark, corpus, offset: int = 0):
    return spark.createDataFrame(corpus.assign(
        doc_id=corpus["doc_id"] + offset))


def _spark_aggregation(spark, d: str):
    """The dictionary of ``d``'s latest snapshot as the Spark aggregation
    over its segments' postings computes it, sorted by term."""
    cat = SnapshotCatalog(d)
    return (spark.read.parquet(*[
        os.path.join(cat.segment_dir(s), "postings.parquet")
        for s in cat.load().seg_ids])
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf")))


def _assert_dictionary(spark, d: str) -> None:
    """The committed dictionary of ``d`` equals a fresh aggregation of
    its segments' postings, row for row and dtype for dtype, in term
    order across its part files."""
    snap = SnapshotCatalog(d).load()
    got = pq.read_table(snap.term_stats_path)
    assert got.schema.remove_metadata() == SCHEMA
    want = _spark_aggregation(spark, d).orderBy("term").toPandas()
    got = got.to_pandas()
    assert list(got.dtypes) == list(want.dtypes)
    assert got.equals(want)
    check_index(d)


def test_every_commit_writes_the_aggregation(spark, part_layout, tmp_path):
    """build → append → delete → merge → add_indexes → split_index: after
    each step the dictionary is the aggregation."""
    corpus = generate_corpus(240, seed=13)
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, corpus[corpus.doc_id < 160]), d,
                num_segments=4)
    _assert_dictionary(spark, d)
    build_index(spark, _frame(spark, corpus[corpus.doc_id >= 160]), d,
                num_segments=2)
    _assert_dictionary(spark, d)
    delete_by_term(spark, d, "while")
    _assert_dictionary(spark, d)
    merge_segments(spark, d, [0, 1, 4])
    _assert_dictionary(spark, d)

    other = str(tmp_path / "other")
    build_index(spark, _frame(spark, generate_corpus(90, seed=5), 10_000),
                other, num_segments=3)
    add_indexes(spark, d, other)
    _assert_dictionary(spark, d)
    out = str(tmp_path / "split")
    split_index(spark, d, out, sorted(SnapshotCatalog(d).load().seg_ids)[1:4])
    _assert_dictionary(spark, out)


def test_many_parts_are_disjoint_term_ranges(spark, many_parts, tmp_path):
    d = str(tmp_path / "idx")
    snap = build_index(spark, _frame(spark, generate_corpus(200, seed=3)),
                       d, num_segments=4)
    parts = sorted(os.listdir(snap.term_stats_path))
    assert len(parts) == spark.sparkContext.defaultParallelism > 1
    last = None
    for name in parts:
        terms = pq.read_table(os.path.join(snap.term_stats_path, name),
                              columns=["term"]).column("term").to_pylist()
        assert terms and terms == sorted(set(terms))
        assert last is None or last < terms[0]
        last = terms[-1]


def test_commit_replaces_a_leftover_directory(spark, tmp_path):
    """A crashed commit may leave ``gen-N`` behind with parts of its own;
    the next commit of generation N writes the aggregation alone."""
    d = str(tmp_path / "idx")
    stale = os.path.join(d, "term_stats", "gen-1")
    os.makedirs(stale)
    pq.write_table(pa.table({
        "term": ["zzz-stale"], "df": pa.array([99], pa.int64()),
        "ttf": pa.array([99], pa.int64())}, schema=SCHEMA),
        os.path.join(stale, "part-9.parquet"))
    snap = build_index(spark, _frame(spark, generate_corpus(80, seed=9)), d,
                       num_segments=2)
    assert os.path.abspath(snap.term_stats_path) == os.path.abspath(stale)
    assert "part-9.parquet" not in os.listdir(stale)
    _assert_dictionary(spark, d)
    assert not [n for n in os.listdir(os.path.dirname(stale))
                if n.startswith("_tmp-")]


def _commit_spark_dictionary(spark, d: str) -> None:
    """Commit ``d``'s dictionary as Spark used to write it: range-bucketed
    part files with ``.crc`` and ``_SUCCESS`` sidecars."""
    cat = SnapshotCatalog(d)
    snap = cat.load()
    path = os.path.join(d, "term_stats", "gen-spark")
    (_spark_aggregation(spark, d)
     .repartitionByRange(len(snap.seg_ids), "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(path))
    cat.commit(snap.segments, snap.field_stats, path, extra=snap.extra)


def test_spark_written_dictionary_still_reads(spark, tmp_path):
    dirs = [str(tmp_path / "a"), str(tmp_path / "b")]
    for i, d in enumerate(dirs):
        build_index(spark, _frame(spark, generate_corpus(120, seed=21 + i),
                                  1000 * i), d, num_segments=3)
    terms = ["parse", "emit", "while", "zz-absent-term"]
    before = {d: (Searcher(spark, d).search("parse OR emit", k=10).collect(),
                  Searcher(spark, d)._global_stats(terms)) for d in dirs}
    ms = MultiSearcher(spark, dirs)
    ms_before = (ms.search("parse OR emit", k=10).collect(),
                 ms._global_stats(terms))
    for d in dirs:
        _commit_spark_dictionary(spark, d)
        snap = SnapshotCatalog(d).load()
        assert "_SUCCESS" in os.listdir(snap.term_stats_path)
        s = Searcher(spark, d)
        assert s.search("parse OR emit", k=10).collect() == before[d][0]
        assert s._global_stats(terms) == before[d][1]
        check_index(d)
    ms = MultiSearcher(spark, dirs)
    assert ms.search("parse OR emit", k=10).collect() == ms_before[0]
    got = ms._global_stats(terms)
    assert got == ms_before[1]
    a, b = (before[d][1][0] for d in dirs)
    assert got[0] == {t: a.get(t, 0) + b.get(t, 0) for t in {*a, *b}}


def _rewrite_part(path: str, edit) -> None:
    t = pq.read_table(path)
    pq.write_table(edit(t), path)


@pytest.mark.parametrize("bad", ["dropped_part", "duplicated_row",
                                 "changed_df"])
def test_check_index_checks_the_dictionary(spark, many_parts, tmp_path, bad):
    d = str(tmp_path / "idx")
    snap = build_index(spark, _frame(spark, generate_corpus(120, seed=23)),
                       d, num_segments=3)
    check_index(d)
    parts = sorted(os.listdir(snap.term_stats_path))
    assert len(parts) > 1
    path = os.path.join(snap.term_stats_path, parts[1])
    if bad == "dropped_part":
        os.unlink(path)
    elif bad == "duplicated_row":
        _rewrite_part(path, lambda t: pa.concat_tables(
            [t.slice(0, 1), t]))
    else:
        _rewrite_part(path, lambda t: t.set_column(
            1, "df", pa.array([t["df"][0].as_py() + 1]
                              + t["df"].to_pylist()[1:], pa.int64())))
    with pytest.raises(CheckIndexError):
        check_index(d)
    with pytest.raises(CheckIndexError):
        check_index(d, spark=spark)


def test_term_stats_is_one_job(spark_jobs, spark, tmp_path):
    d = str(tmp_path / "idx")
    snap = build_index(spark, _frame(spark, generate_corpus(120, seed=29)),
                       d, num_segments=4)
    out = os.path.join(d, "term_stats", "again")
    _, jobs = spark_jobs("term-stats", lambda: build_mod.compute_term_stats(
        spark, SnapshotCatalog(d), snap.seg_ids, out))
    assert len(jobs) == 1
    assert pq.read_table(out).equals(pq.read_table(snap.term_stats_path))


def test_warm_build_runs_at_most_three_jobs(spark_jobs, spark, tmp_path):
    """A 16-segment build: the invert (a shuffle-map job and the segment
    kernels' job, under AQE) and the dictionary fan-out."""
    frame = _frame(spark, generate_corpus(400, seed=7))
    build_index(spark, frame, str(tmp_path / "warm"), num_segments=16)
    _, jobs = spark_jobs("warm-build", lambda: build_index(
        spark, frame, str(tmp_path / "idx"), num_segments=16))
    assert len(jobs) <= 3


def test_merge_under_an_overlay_runs_at_most_three_jobs(spark_jobs, spark,
                                                        tmp_path):
    """Merging 4 of 8 segments under an overlay: the two body fan-outs and
    the dictionary fan-out."""
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, generate_corpus(240, seed=7))
                .withColumn("popularity", (F.col("doc_id") % 7).cast("long")),
                d, num_segments=8)
    update_numeric_docvalue(spark, d, "else", "popularity", 100)
    snap = SnapshotCatalog(d).load()
    assert snap.extra["num_dv_updates"]
    _, jobs = spark_jobs("overlay-merge-3", lambda: merge_segments(
        spark, d, sorted(snap.seg_ids)[:4]))
    assert len(jobs) <= 3
