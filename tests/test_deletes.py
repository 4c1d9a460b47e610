"""Deletes / liveDocs: search masking, stale-stats semantics, merge purge.

Semantics mirrored from the reference: deletes mask results at collection
time (liveDocs in IndexSearcher's BulkScorer.score call) while postings
and collection statistics stay untouched until a merge purges them — so
pre-merge scores of surviving docs are IDENTICAL to pre-delete scores,
and post-force-merge scores equal a fresh index over the live corpus.
"""

from __future__ import annotations

import tempfile

import numpy as np
import pytest

from lucene_spark.operators.build import build_index
from lucene_spark.operators.delete import delete_by_term, load_deletes
from lucene_spark.operators.merge import force_merge
from lucene_spark.operators.search import Searcher
from lucene_spark.oracle import OracleIndex
from lucene_spark.plans import query as Q
from lucene_spark.sources.catalog import SnapshotCatalog
from lucene_spark.sources.corpus import generate_corpus

N_DOCS = 200
DEL_TERM = "flush"        # docs containing this term get deleted
QUERY_TERM = "parse"


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS, seed=23)


@pytest.fixture(scope="module")
def oracle_full(corpus):
    return OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))


@pytest.fixture(scope="module")
def deleted_index(spark, corpus):
    d = tempfile.mkdtemp(prefix="lucene_spark_del_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    delete_by_term(spark, d, DEL_TERM)
    return d


def _deleted_doc_ids(oracle_full):
    return {doc for doc, _, _ in oracle_full.postings.get(DEL_TERM, ())}


def test_deleted_docs_masked_with_stale_stats(spark, deleted_index,
                                              oracle_full):
    """Pre-merge: surviving docs keep their pre-delete scores exactly
    (stats stale, like Lucene NRT deletes); deleted docs never surface."""
    s = Searcher(spark, deleted_index)
    gone = _deleted_doc_ids(oracle_full)
    assert gone  # the fixture term must actually delete something
    for q in (Q.Term(QUERY_TERM),
              Q.Or((Q.Term(QUERY_TERM), Q.Term(DEL_TERM))),
              Q.Not(Q.Term(QUERY_TERM), Q.Term("codec"))):
        for mode in ("exhaustive", "auto"):
            got = [(r["doc_id"], r["score"])
                   for r in s.search(q, k=10, mode=mode).collect()]
            want = [(d, sc) for d, sc in oracle_full.top_k(q, k=10 + len(gone))
                    if d not in gone][:10]
            assert [g[0] for g in got] == [w[0] for w in want], (q, mode)
            assert np.allclose([g[1] for g in got], [w[1] for w in want],
                               rtol=0, atol=0), (q, mode)


def test_count_excludes_deleted(spark, deleted_index, oracle_full):
    s = Searcher(spark, deleted_index)
    gone = _deleted_doc_ids(oracle_full)
    matches = set(oracle_full.score(Q.Term(QUERY_TERM)).keys())
    assert s.count(Q.Term(QUERY_TERM)) == len(matches - gone)
    assert s.count(Q.Term(DEL_TERM)) == 0


def _bits(score) -> int:
    return int(np.float32(score).view(np.uint32))


def test_map_segments_callers_mask_deleted(spark, deleted_index,
                                           oracle_full):
    """score_all, search_many, term_doc_pairs and term_doc_scores (all
    run through Searcher.map_segments) never return a deleted doc, and on
    the live docs equal the pre-delete oracle bit for bit (stale stats)."""
    from lucene_spark.operators.classify import (term_doc_pairs,
                                                 term_doc_scores)

    s = Searcher(spark, deleted_index)
    gone = _deleted_doc_ids(oracle_full)
    assert {d for d, _, _ in oracle_full.postings[QUERY_TERM]} & gone
    terms = [QUERY_TERM, DEL_TERM]
    queries = {"term": Q.Term(QUERY_TERM),
               "or": Q.Or((Q.Term(QUERY_TERM), Q.Term(DEL_TERM)))}

    def live_scores(q):
        return {int(d): _bits(sc) for d, sc in oracle_full.score(q).items()
                if d not in gone}

    for q in queries.values():
        got = {int(r["doc_id"]): _bits(r["score"])
               for r in s.score_all(q).collect()}
        assert got == live_scores(q), q

    rows = s.search_many(queries, k=10).collect()
    for qid, q in queries.items():
        got = [(int(r["doc_id"]), _bits(r["score"]))
               for r in sorted(rows, key=lambda r: r["rank"])
               if r["query_id"] == qid]
        want = [(d, _bits(sc))
                for d, sc in oracle_full.top_k(q, k=10 + len(gone))
                if d not in gone][:10]
        assert got == want, qid

    want_pairs = {(t, d) for t in terms
                  for d, _, _ in oracle_full.postings[t] if d not in gone}
    terms_df = spark.createDataFrame([(t,) for t in terms], "term string")
    for pairs in (term_doc_pairs(s, terms),
                  term_doc_pairs(s, None, terms_df=terms_df)):
        got = [(r["term"], int(r["doc_id"])) for r in pairs.collect()]
        assert len(got) == len(set(got))
        assert set(got) == want_pairs

    got = {(r["term"], int(r["doc_id"])): _bits(r["score"])
           for r in term_doc_scores(s, terms).collect()}
    assert got == {(t, d): b for t in terms
                   for d, b in live_scores(Q.Term(t)).items()}


def test_update_documents(spark):
    """updateDocument role: replaced docs surface only with their new
    content; after force_merge the index equals a fresh oracle over the
    updated corpus exactly."""
    import pandas as pd

    from lucene_spark.operators.delete import update_documents

    corpus = generate_corpus(120, seed=29)
    d = tempfile.mkdtemp(prefix="lucene_spark_upd_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=3)

    upd_ids = [5, 6, 7]
    newdocs = corpus[corpus.doc_id.isin(upd_ids)].copy()
    newdocs["content"] = ["zzupdated marker doc five",
                          "zzupdated marker doc six",
                          "zzupdated marker doc seven"]
    update_documents(spark, d, spark.createDataFrame(newdocs))

    s = Searcher(spark, d)
    got = sorted(r["doc_id"] for r in
                 s.search(Q.Term("zzupdated"), k=10).collect())
    assert got == upd_ids
    # old content of the replaced docs no longer matches
    old_terms = set(corpus[corpus.doc_id == 5].content.iloc[0].split())
    marker = next(iter(old_terms - {"zzupdated"}))
    assert 5 not in {r["doc_id"] for r in
                     s.search(Q.Term(marker), k=120).collect()} \
        or marker in newdocs.content.iloc[0]

    force_merge(spark, d, max_segments=1)
    updated = pd.concat([corpus[~corpus.doc_id.isin(upd_ids)], newdocs])
    oracle_upd = OracleIndex.build(list(zip(updated.doc_id,
                                            updated.content)))
    s2 = Searcher(spark, d)
    for q in (Q.Term("zzupdated"), Q.Term("parse")):
        got = [(r["doc_id"], r["score"])
               for r in s2.search(q, k=10).collect()]
        want = oracle_upd.top_k(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0), q
    snap = SnapshotCatalog(d).load()
    assert snap.field_stats["doc_count"] == len(updated)


def _dictionary_stats(spark, paths, terms):
    """{term: (df, ttf)} summed over the dictionaries by Spark."""
    from pyspark.sql import functions as F
    df = spark.read.parquet(*paths)
    rows = (df.where(F.col("term").isin(terms)).groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
            .collect())
    return {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}


def test_search_is_one_shuffle_free_job(spark_jobs, spark, deleted_index,
                                        oracle_full):
    """``Searcher.search`` runs one Spark job of one stage (the stats probe
    and the top-k merge run on the driver), its segment fan-out plans no
    Exchange, and its hits equal the oracle's in ids and float32 bits
    with deleted docs masked. The driver-side stats equal Spark's
    aggregation of the dictionary, on a Searcher and on a two-index
    MultiSearcher."""
    from lucene_spark.operators.search import MultiSearcher

    s = Searcher(spark, deleted_index)
    tracker = spark.sparkContext.statusTracker()
    gone = _deleted_doc_ids(oracle_full)
    queries = (Q.Term(QUERY_TERM),
               Q.Or((Q.Term(QUERY_TERM), Q.Term(DEL_TERM))),
               Q.And((Q.Term("codec"), Q.Term("util"))),
               Q.Phrase(("mixed", "case")))
    for i, q in enumerate(queries):
        rows, jobs = spark_jobs(f"search-{i}",
                                lambda: s.search(q, k=10).collect())
        assert len(jobs) == 1, q
        assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1, q
        got = [(int(r["doc_id"]), _bits(r["score"])) for r in rows]
        want = [(d, _bits(sc)) for d, sc in
                oracle_full.top_k(q, k=10 + len(gone)) if d not in gone][:10]
        assert got and got == want, q
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))

    fanned = s.map_segments([QUERY_TERM], lambda seg, ctx, gids: None,
                            "doc_id long")
    plan = fanned._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Exchange" not in plan, plan

    other = tempfile.mkdtemp(prefix="lucene_spark_del_other_")
    extra = generate_corpus(60, seed=7)
    extra["doc_id"] += 10 * N_DOCS
    build_index(spark, spark.createDataFrame(extra), other, num_segments=2)
    ms = MultiSearcher(spark, [deleted_index, other])
    terms = [QUERY_TERM, DEL_TERM, "codec", "zz-absent-term"]
    for searcher in (s, ms):
        dfs, ttfs = searcher._global_stats(terms)
        want = _dictionary_stats(spark, searcher.term_stats_paths, terms)
        assert "zz-absent-term" not in dfs
        assert {t: (dfs[t], ttfs[t]) for t in dfs} == want
        assert searcher._global_dfs(terms) == dfs
    assert len(ms.term_stats_paths) == 2
    _, jobs = spark_jobs("multi-search",
                         lambda: ms.search(Q.Term(QUERY_TERM), k=10).collect())
    assert len(jobs) == 1 and len(tracker.getJobInfo(jobs[0]).stageIds) == 1


def test_merge_purges_deletes(spark, corpus, deleted_index, oracle_full):
    """force_merge drops tombstoned docs, compacts docIDs, recomputes
    stats — results must equal a fresh oracle over the live corpus."""
    force_merge(spark, deleted_index, max_segments=1)
    catalog = SnapshotCatalog(deleted_index)
    snap = catalog.load()
    assert len(snap.seg_ids) == 1
    assert not load_deletes(catalog, snap)          # tombstones purged
    gone = _deleted_doc_ids(oracle_full)
    live = corpus[~corpus.doc_id.isin(gone)]
    assert snap.field_stats["doc_count"] == len(live)

    oracle_live = OracleIndex.build(list(zip(live.doc_id, live.content)))
    assert snap.field_stats["sum_total_term_freq"] == oracle_live.sum_ttf

    s = Searcher(spark, deleted_index)
    for q in (Q.Term(QUERY_TERM), Q.And((Q.Term("codec"), Q.Term("util"))),
              Q.Phrase(("mixed", "case"))):
        got = [(r["doc_id"], r["score"])
               for r in s.search(q, k=10).collect()]
        want = oracle_live.top_k(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0), q
    assert s.count(Q.Term(DEL_TERM)) == 0


def _updated_corpus(corpus, upd_ids):
    newdocs = corpus[corpus.doc_id.isin(upd_ids)].copy()
    newdocs["content"] = [f"zzupdated marker doc {i}" for i in upd_ids]
    return newdocs


def _assert_matches_oracle(spark, d, live):
    """doc_count and top-k equal a fresh oracle over ``live`` exactly."""
    oracle = OracleIndex.build(list(zip(live.doc_id, live.content)))
    assert SnapshotCatalog(d).load().field_stats["doc_count"] == len(live)
    s = Searcher(spark, d)
    for q in (Q.Term("zzupdated"), Q.Term(QUERY_TERM),
              Q.Or((Q.Term(QUERY_TERM), Q.Term(DEL_TERM)))):
        got = [(r["doc_id"], r["score"])
               for r in s.search(q, k=10).collect()]
        want = oracle.top_k(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0), q


def test_update_keeps_earlier_deletes(spark, corpus, oracle_full):
    """An update on an index with tombstones keeps them: deleted docs stay
    deleted before and after the purging merge."""
    import pandas as pd

    from lucene_spark.operators.delete import update_documents

    d = tempfile.mkdtemp(prefix="lucene_spark_upddel_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    delete_by_term(spark, d, DEL_TERM)
    gone = _deleted_doc_ids(oracle_full)
    upd_ids = [i for i in range(N_DOCS) if i not in gone][:3]
    newdocs = _updated_corpus(corpus, upd_ids)
    update_documents(spark, d, spark.createDataFrame(newdocs))

    # stale stats count every copy until a merge purges the tombstones
    snap = SnapshotCatalog(d).load()
    assert snap.field_stats["doc_count"] == N_DOCS + len(upd_ids)
    s = Searcher(spark, d)
    assert s.count(Q.Term(DEL_TERM)) == 0
    assert sorted(r["doc_id"] for r in
                  s.search(Q.Term("zzupdated"), k=10).collect()) == upd_ids

    force_merge(spark, d, max_segments=1)
    live = pd.concat([corpus[~corpus.doc_id.isin(gone | set(upd_ids))],
                      newdocs])
    _assert_matches_oracle(spark, d, live)


def test_update_after_merge_keeps_merged_away_segments_out(spark, corpus):
    """An update after a merge commits the merged segment, not the
    merged-away segment dirs still on disk."""
    import pandas as pd

    from lucene_spark.operators.delete import update_documents

    d = tempfile.mkdtemp(prefix="lucene_spark_updmerge_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    force_merge(spark, d, max_segments=1)
    upd_ids = [3, 4, 5]
    newdocs = _updated_corpus(corpus, upd_ids)
    update_documents(spark, d, spark.createDataFrame(newdocs))

    snap = SnapshotCatalog(d).load()
    assert len(snap.seg_ids) == 2
    assert snap.field_stats["doc_count"] == N_DOCS + len(upd_ids)

    force_merge(spark, d, max_segments=1)
    live = pd.concat([corpus[~corpus.doc_id.isin(upd_ids)], newdocs])
    _assert_matches_oracle(spark, d, live)


def test_a_build_without_a_key_appends(spark, corpus, oracle_full):
    """A second build without a key appends segments under new ids: every
    new doc is indexed, and the first build's segments keep their
    tombstones. The same ids would have kept the old segments and indexed
    none of the new text."""
    import pandas as pd

    d = tempfile.mkdtemp(prefix="lucene_spark_append_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    before = delete_by_term(spark, d, DEL_TERM)
    catalog = SnapshotCatalog(d)
    dead = {s: v.tolist() for s, v in load_deletes(catalog, before).items()}
    more = corpus.assign(doc_id=corpus.doc_id + N_DOCS,
                         content=corpus.content + " zzupdated")
    snap = build_index(spark, spark.createDataFrame(more), d, num_segments=4)
    assert sorted(snap.seg_ids) == list(range(8))
    assert {s: v.tolist()
            for s, v in load_deletes(catalog, snap).items()} == dead
    force_merge(spark, d, max_segments=1)
    gone = _deleted_doc_ids(oracle_full)
    _assert_matches_oracle(
        spark, d, pd.concat([corpus[~corpus.doc_id.isin(gone)], more]))
