"""One namer of new segments, and resume only by an explicit key.

``SnapshotCatalog.allocate`` names every new segment of a build, a merge,
``add_indexes`` and ``update_documents``: ids above every ``seg=`` entry
under ``segments/``, each reserved by an atomic ``os.mkdir``, so the
leftover of a failed write is never named again. A build resumes only
when it names its key (``build_id``): its first call claims its ids in
``builds/<build_id>.json``, a later call builds only the segments of the
claim still missing, never one a merge has taken since. The Spark tests
below are the faults the old id arithmetic and directory-scan resume set
caused; each one is a write after a failed or finished write.
"""

from __future__ import annotations

import os
import shutil
import threading

import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucene_spark.operators.build import build_index
from lucene_spark.operators.checkindex import check_index
from lucene_spark.operators.delete import update_documents
from lucene_spark.operators.merge import merge_segments
from lucene_spark.operators.search import Searcher
from lucene_spark.plans import query as Q
from lucene_spark.sources.catalog import SnapshotCatalog, publish
from lucene_spark.sources.corpus import generate_corpus

QUERY = Q.Or((Q.Term("else"), Q.Term("while"), Q.Term("return"),
              Q.Term("if")))


def test_allocate_names_ids_above_every_entry(tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    for name in ("seg=0", "seg=5", "_tmp-x"):
        os.mkdir(os.path.join(cat.segments_dir, name))
    assert cat.allocate(3) == [6, 7, 8]
    assert all(os.listdir(cat.segment_dir(s)) == [] for s in (6, 7, 8))
    assert cat.allocate(1) == [9]


def test_allocate_never_hands_out_an_id_twice(tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    got: list[list[int]] = []

    def worker():
        for _ in range(10):
            got.append(cat.allocate(2))

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ids = [s for pair in got for s in pair]
    assert len(ids) == len(set(ids)) == 80
    assert all(b == a + 1 for a, b in got)


def _segment(tmp: str) -> None:
    os.makedirs(tmp)
    open(os.path.join(tmp, "stats.json"), "w").close()


def test_publish_replaces_an_empty_reservation(tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    [s] = cat.allocate(1)
    with publish(cat.segment_dir(s)) as tmp:
        _segment(tmp)
    with pytest.raises(FileExistsError), \
            publish(cat.segment_dir(s)) as tmp:
        _segment(tmp)
    assert os.listdir(cat.segment_dir(s)) == ["stats.json"]
    assert os.listdir(cat.segments_dir) == [f"seg={s}"]


def test_a_claim_is_kept_and_checked(tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    ids, done = cat.claim(3, "k")
    assert (ids, done) == ([0, 1, 2], {})
    assert cat.claim(3, "k") == (ids, {})
    assert cat.claim(2) == ([3, 4], {})
    with pytest.raises(ValueError, match="claimed 3 segments"):
        cat.claim(4, "k")
    for bad in ("../k", "", ".k"):
        with pytest.raises(ValueError, match="not a file name"):
            cat.claim(3, bad)


def _frame(spark, pdf):
    return spark.createDataFrame(pdf)


def _hits(spark, d: str, q=QUERY, k: int = 50) -> list[tuple[int, float]]:
    rows = Searcher(spark, d).search(q, k=k).toPandas()
    return list(zip(rows.doc_id.astype(int), rows.score.astype(float)))


@pytest.fixture()
def failing_commit(monkeypatch):
    """Set ``[0]`` of the returned list, and ``SnapshotCatalog.commit``
    raises once, on its next call."""
    real = SnapshotCatalog.commit
    armed = [False]

    def commit(self, *a, **kw):
        if armed[0]:
            armed[0] = False
            raise RuntimeError("injected commit failure")
        return real(self, *a, **kw)

    monkeypatch.setattr(SnapshotCatalog, "commit", commit)
    return armed


def test_a_retried_merge_commits(spark, tmp_path, failing_commit):
    """A merge whose commit failed leaves its segment behind; the retry
    writes a new one and ends as an uncrashed merge does."""
    corpus = generate_corpus(200, seed=41)
    clean, d = str(tmp_path / "clean"), str(tmp_path / "idx")
    for root in (clean, d):
        build_index(spark, _frame(spark, corpus), root, num_segments=4)
    want = merge_segments(spark, clean, [0, 1])
    failing_commit[0] = True
    with pytest.raises(RuntimeError, match="injected"):
        merge_segments(spark, d, [0, 1])
    assert SnapshotCatalog(d).load().seg_ids == [0, 1, 2, 3]
    snap = merge_segments(spark, d, [0, 1])
    assert sorted(snap.seg_ids) == [2, 3, 5]
    assert snap.field_stats == want.field_stats
    assert _hits(spark, d) == _hits(spark, clean)
    check_index(d)


def test_a_keyed_rerun_after_a_merge_adds_nothing(spark, tmp_path):
    """The same keyed build run again after a merge took two of its
    segments writes no segment and keeps every doc once."""
    corpus = generate_corpus(200, seed=43)
    d = str(tmp_path / "idx")
    df = _frame(spark, corpus)
    build_index(spark, df, d, num_segments=4, build_id="b")
    merge_segments(spark, d, [0, 1])
    snap = build_index(spark, df, d, num_segments=4, build_id="b")
    assert sorted(snap.seg_ids) == [2, 3, 4]
    assert snap.field_stats["doc_count"] == 200
    hits = _hits(spark, d, Q.Or(tuple(Q.Term(t) for t in
                                      ("if", "return", "else", "int"))), 400)
    assert len(hits) == len({doc for doc, _ in hits})
    check_index(d)


def test_an_update_after_a_failed_one(spark, tmp_path, failing_commit):
    """An update whose append failed at its commit leaves a segment
    behind; the next update indexes its own docs, and each doc stays live
    once."""
    d = str(tmp_path / "idx")
    docs = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5],
                         "content": [f"common w{i}" for i in range(1, 6)]})
    build_index(spark, _frame(spark, docs), d, num_segments=1)
    failing_commit[0] = True
    with pytest.raises(RuntimeError, match="injected"):
        update_documents(spark, d, _frame(spark, pd.DataFrame(
            {"doc_id": [1, 2], "content": ["common new12"] * 2})))
    update_documents(spark, d, _frame(spark, pd.DataFrame(
        {"doc_id": [3, 4], "content": ["common new34"] * 2})))
    live = sorted(doc for doc, _ in _hits(spark, d, Q.Term("common")))
    assert live == [1, 2, 3, 4, 5]
    assert sorted(doc for doc, _ in
                  _hits(spark, d, Q.Term("new34"))) == [3, 4]
    assert _hits(spark, d, Q.Term("new12")) == []
    check_index(d)


def test_a_keyed_resume_writes_missing_term_vectors(spark, tmp_path):
    """A keyed build resumed after its manifests and one segment's term
    vectors are gone ends with the vectors of an uncrashed build."""
    corpus = generate_corpus(120, seed=47)
    clean, d = str(tmp_path / "clean"), str(tmp_path / "idx")
    for root in (clean, d):
        build_index(spark, _frame(spark, corpus), root, num_segments=2,
                    store_term_vectors=True, build_id="tv")
    shutil.rmtree(os.path.join(d, "manifests"))
    os.unlink(os.path.join(d, "term_vectors", "seg-1.parquet"))
    snap = build_index(spark, _frame(spark, corpus), d, num_segments=2,
                       store_term_vectors=True, build_id="tv")
    assert sorted(snap.seg_ids) == [0, 1]
    tv = sorted(os.listdir(os.path.join(d, "term_vectors")))
    assert tv == ["seg-0.parquet", "seg-1.parquet"]
    for name in tv:
        got, want = (pq.read_table(os.path.join(root, "term_vectors", name))
                     for root in (d, clean))
        assert got.equals(want), name
    assert _hits(spark, d) == _hits(spark, clean)
    check_index(d)
