"""Searcher and MultiSearcher are one plain file reader.

Opening reads manifests and tombstones on the driver and runs no Spark
job (``DirectoryReader.open`` reads segment metadata only). Each query
task reads its segment's files, and a fan-out item carries only that
segment's tombstones. A MultiSearcher is the same reader over several
sub-indexes (``MultiReader``), so the docvalues family works on it too.
"""

from __future__ import annotations

import pickle
import tempfile

import numpy as np
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from lucene_spark.operators import search as search_mod
from lucene_spark.operators.build import build_index
from lucene_spark.operators.delete import delete_by_term
from lucene_spark.operators.search import MultiSearcher, Searcher
from lucene_spark.oracle import OracleIndex
from lucene_spark.plans import query as Q
from lucene_spark.sources.corpus import generate_corpus

FIELD = "price"
DEL_TERM = "flush"


def _corpus(n: int, seed: int, base: int):
    pdf = generate_corpus(n, seed=seed)
    pdf["doc_id"] += base
    pdf[FIELD] = (pdf["doc_id"] % 13).astype("int64")
    return pdf


@pytest.fixture(scope="module")
def corpora():
    return _corpus(150, 3, 0), _corpus(90, 5, 10_000)


@pytest.fixture(scope="module")
def indexes(spark, corpora):
    """Two sorted indexes over disjoint doc ids (tombstones in the first)
    and an unsorted twin of the second."""
    dirs = []
    for pdf, segs, sort in ((corpora[0], 3, FIELD), (corpora[1], 2, FIELD),
                            (corpora[1], 2, None)):
        d = tempfile.mkdtemp(prefix="lucene_spark_reader_")
        build_index(spark, spark.createDataFrame(pdf), d, num_segments=segs,
                    sort_field=sort, sort_ascending=False)
        dirs.append(d)
    delete_by_term(spark, dirs[0], DEL_TERM)
    return dirs


@pytest.fixture(scope="module")
def deleted(corpora):
    oracle = OracleIndex.build(list(zip(corpora[0].doc_id,
                                        corpora[0].content)))
    gone = {int(d) for d, _, _ in oracle.postings.get(DEL_TERM, ())}
    assert gone
    return gone


def test_open_runs_no_job(spark_jobs, spark, indexes):
    """Open runs 0 jobs, the first top-10 query 1, and explaining a term
    or OR query 0: every read is a driver pyarrow read."""
    s, jobs = spark_jobs("reader-open", lambda: Searcher(spark, indexes[0]))
    assert jobs == []
    ms, jobs = spark_jobs("reader-open-multi",
                          lambda: MultiSearcher(spark, indexes[:2]))
    assert jobs == []
    for reader in (s, ms):
        assert not hasattr(reader, "postings")
        assert not hasattr(reader, "norms")
    queries = (Q.Term("parse"), Q.Or((Q.Term("parse"), Q.Term("scan"))))
    for i, reader in enumerate((s, ms)):
        for j, q in enumerate(queries):
            rows, jobs = spark_jobs(f"reader-query-{i}-{j}",
                                    lambda: reader.search(q, k=10).collect())
            assert rows and len(jobs) == 1
            ex, jobs = spark_jobs(f"reader-explain-{i}-{j}",
                                  lambda: reader.explain(q, rows[0]["doc_id"]))
            assert jobs == []
            assert ex["match"] and ex["value"] == rows[0]["score"]


def _doc_set(df):
    return {tuple(r) for r in df.collect()}


def test_multi_searcher_docvalues_family(spark, indexes, deleted):
    """Point ranges, docvalues and sorted_top_k over a two-index
    MultiSearcher equal the union of the per-index results, with the
    first index's tombstones masked."""
    subs = [Searcher(spark, d) for d in indexes[:2]]
    ms = MultiSearcher(spark, indexes[:2])

    pr = Q.PointRange(FIELD, 3, 7)
    got = _doc_set(ms.search(pr, k=1000).select("doc_id", "score"))
    want = set().union(*(_doc_set(s.search(pr, k=1000)
                                  .select("doc_id", "score"))
                         for s in subs))
    assert got == want and got
    assert not {d for d, _ in got} & deleted
    assert any(3 <= d % 13 <= 7 for d in deleted)  # the mask bites

    vals = [0, 4, 9]
    got = _doc_set(ms.docvalues_in_set(FIELD, vals))
    want = set().union(*(_doc_set(s.docvalues_in_set(FIELD, vals))
                         for s in subs))
    assert got == want and got
    assert not {d for d, _ in got} & deleted

    dv = ms.docvalues(FIELD)
    assert {r["seg_id"] for r in dv.select("seg_id").distinct().collect()} \
        == set(ms.seg_dirs)
    assert dv.where(F.col("value") != F.col("doc_id") % 13).count() == 0
    assert ms.field_exists(FIELD).count() == \
        sum(s.field_exists(FIELD).count() for s in subs)

    merged = sorted((r for s in subs for r in s.sorted_top_k(7).collect()),
                    key=lambda r: (-r[FIELD], r["doc_id"]))[:7]
    assert [(r["doc_id"], r[FIELD], r["rank"])
            for r in ms.sorted_top_k(7).collect()] == \
        [(r["doc_id"], r[FIELD], i) for i, r in enumerate(merged, 1)]
    with pytest.raises(ValueError, match="different index sorts"):
        MultiSearcher(spark, [indexes[0], indexes[2]]).sorted_top_k(7)


def test_fan_out_item_carries_its_own_tombstones(spark, indexes,
                                                 monkeypatch):
    """The pickled task of a query over segment A (the kernel closure
    plus A's item) does not grow when segment B gains 10k tombstones:
    those ride in B's item only."""
    calls = []

    def record(spark_, items, fn, schema):
        calls.append((items, fn))
        return search_mod.empty_frame(spark_, schema)

    monkeypatch.setattr(search_mod, "fan_out", record)
    s = Searcher(spark, indexes[2])
    seg_a, seg_b = sorted(s.seg_dirs)

    def task_sizes():
        s.map_segments(["parse"], lambda seg, ctx, gids: None, "doc_id long")
        items, fn = calls.pop()
        by_seg = {it[0]: it for it in items}
        return (len(cloudpickle.dumps(fn)) + len(pickle.dumps(by_seg[seg_a])),
                len(pickle.dumps(by_seg[seg_b])))

    a_before, b_before = task_sizes()
    s.deletes[seg_b] = np.arange(10_000, dtype=np.int64)
    a_after, b_after = task_sizes()
    assert a_after == a_before
    assert b_after > b_before + 10_000 * 8


def _window_top_k(spark, rows, key, ascending, k):
    """The replaced top-k tail: orderBy().limit() ranked by an
    unpartitioned Window."""
    import pyarrow as pa
    from pyspark.sql import Window
    if isinstance(rows, pa.Table):
        rows = spark.createDataFrame(rows)
    order = [F.asc(key) if ascending else F.desc(key), F.asc("doc_id")]
    return (rows.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))))


def _stages(spark, jobs) -> int:
    tracker = spark.sparkContext.statusTracker()
    return sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)


def test_top_k_tails_rank_on_the_driver(spark_jobs, spark, indexes,
                                        monkeypatch):
    """rescore, point-range search and sorted_top_k collect their ≤ k rows
    and number the ranks on the driver: the same rows, types and float32
    bits as the Window tail, in fewer Spark stages, and for rescore
    (which combines on the driver too) fewer jobs."""
    s = Searcher(spark, indexes[0])
    ms = MultiSearcher(spark, indexes[:2])
    first = s.search(Q.Term("parse"), k=20)
    calls = {
        "rescore": lambda: s.rescore(first, Q.Term("scan"), 2.0, topn=10),
        "points": lambda: s.search(
            Q.And((Q.Term("parse"), Q.PointRange(FIELD, 3, 7))), k=10),
        "sorted": lambda: s.sorted_top_k(7),
        "sorted_multi": lambda: ms.sorted_top_k(7),
    }

    def run(call):
        df = call()
        return df.dtypes, [tuple(r) for r in df.collect()]

    for name, call in calls.items():
        run(call)   # warm: the first doc_meta read infers its schema
        new, new_jobs = spark_jobs(f"topk-new-{name}", lambda: run(call))
        with monkeypatch.context() as m:
            m.setattr(search_mod, "ranked_top_k", _window_top_k)
            old, old_jobs = spark_jobs(f"topk-old-{name}",
                                       lambda: run(call))
        assert new[1] and new == old, name
        assert len(new_jobs) <= len(old_jobs), name
        assert _stages(spark, new_jobs) < _stages(spark, old_jobs), name
        if name == "rescore":
            assert len(new_jobs) < len(old_jobs)


@pytest.fixture(scope="module")
def tv_indexes(spark, corpora):
    dirs = []
    for pdf in corpora:
        d = tempfile.mkdtemp(prefix="lucene_spark_tv_")
        build_index(spark, spark.createDataFrame(pdf), d, num_segments=2,
                    store_term_vectors=True)
        dirs.append(d)
    return dirs


def test_multi_searcher_term_vectors(spark, corpora, tv_indexes):
    """highlight_tv and the term-vector doc vectors read every
    sub-index's sidecar: over a two-index MultiSearcher they equal the
    per-index results."""
    import pandas as pd

    from lucene_spark.operators.classify import doc_to_double_vectors
    from lucene_spark.operators.highlight import highlight_tv
    subs = [Searcher(spark, d) for d in tv_indexes]
    ms = MultiSearcher(spark, tv_indexes)
    docs = spark.createDataFrame(
        pd.concat(corpora)[["doc_id", "content"]]
        .rename(columns={"content": "text"}))

    def snippets(reader):
        return {r["doc_id"]: r["snippet"] for r in
                highlight_tv(reader, docs, "parse OR scan", k=1000)
                .collect()}

    got = snippets(ms)
    assert got and got == {d: snip for sub in subs
                           for d, snip in snippets(sub).items()}

    ids = docs.select("doc_id").where(F.col("doc_id") % 5 == 0)

    def vectors(reader):
        return {r["doc_id"]: (list(r["terms"]), list(r["vector"]))
                for r in doc_to_double_vectors(reader, ids).collect()}

    got = vectors(ms)
    assert {d // 10_000 for d in got} == {0, 1}
    assert got == {**vectors(subs[0]), **vectors(subs[1])}
