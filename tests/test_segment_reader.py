"""The query-time segment reader: one per-process cache of each immutable
segment's decoded postings and norms, bounded in bytes.

In-process tests check the cache itself over hand-written segment files:
eviction by bytes in least-recently-used order, a segment too large to
keep (read for the query's terms only, not kept) and a directory replaced
at the same path (read again). The ``local[4]`` tests check the footer's
size estimate against built segments, and what a query sees through the
Python workers' readers: a rebuilt index, an older snapshot after an
append and a merge, and cold against warm answers.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from lucene_spark.operators.build import build_index
from lucene_spark.operators.merge import force_merge
from lucene_spark.operators.search import Searcher
from lucene_spark.operators.segreader import ReaderCache
from lucene_spark.oracle import OracleIndex
from lucene_spark.plans.parser import parse
from lucene_spark.sources.corpus import generate_corpus
from lucene_spark.sources.queryset import generate_query_set

K = 10


def _write_segment(path, terms: list[str], blob: int = 64,
                   n_docs: int = 4) -> str:
    """A segment directory holding ``postings.parquet`` (one row per term,
    each with a ``blob``-byte ``doc_bytes``) and ``norms.parquet``."""
    os.makedirs(path)
    pq.write_table(pa.table({
        "term": terms,
        "df": pa.array(range(1, len(terms) + 1), pa.int32()),
        "doc_bytes": [t.encode().ljust(blob, b"\0") for t in terms]}),
        os.path.join(path, "postings.parquet"))
    pq.write_table(pa.table({
        "norm_bytes": [bytes(range(n_docs))],
        "global_doc_ids": [np.arange(n_docs, dtype="<i8").tobytes()]}),
        os.path.join(path, "norms.parquet"))
    return str(path)


def _size(seg_dir: str) -> int:
    """The decoded bytes a cache holds for ``seg_dir`` once its norms are
    read."""
    r = ReaderCache(1 << 30).open(seg_dir, [])
    r.norms()
    return r.nbytes


def test_reader_rows_and_norms(tmp_path):
    d = _write_segment(tmp_path / "s", ["alpha", "beta", "gamma"])
    r = ReaderCache(1 << 30).open(d, ["gamma", "alpha"])
    rows = r.rows(["gamma", "alpha", "zeta"])
    assert list(rows) == ["alpha", "gamma"]      # the file's order
    assert rows["gamma"]["df"] == 3
    assert rows["alpha"]["doc_bytes"].rstrip(b"\0") == b"alpha"
    assert r.rows(["zeta"]) == {}
    norms, gids = r.norms()
    assert norms.tolist() == [0, 1, 2, 3] and gids.tolist() == [0, 1, 2, 3]


def test_eviction_by_bytes_least_recently_used_first(tmp_path):
    a, b, c = (_write_segment(tmp_path / n, [f"{n}{i}" for i in range(50)])
               for n in "abc")
    sizes = [_size(d) for d in (a, b, c)]
    cache = ReaderCache(sizes[0] + sizes[1] + sizes[2] // 2)
    for d in (a, b):
        cache.open(d, []).norms()
    assert a in cache and b in cache
    assert cache.open(a, []) is cache.open(a, [])    # a hit, now newest
    cache.open(c, []).norms()
    assert a in cache and c in cache and b not in cache
    cache.open(b, [])                            # the oldest, a, goes
    assert a not in cache and b in cache and c in cache


def test_segment_larger_than_the_bound_is_read_for_its_terms(tmp_path):
    """Whether a segment is kept is settled from its footer, before the
    read: one whose file fits the bound on disk but whose decoded size
    does not is read for the query's terms only, and nothing is evicted
    for it."""
    small = _write_segment(tmp_path / "small", ["x"])
    big = _write_segment(tmp_path / "big", [f"t{i:04d}" for i in range(400)],
                         blob=512)
    on_disk = os.path.getsize(os.path.join(big, "postings.parquet"))
    decoded = pq.read_table(os.path.join(big, "postings.parquet")).nbytes
    cache = ReaderCache(_size(small) + 2 * on_disk)
    assert on_disk < cache.max_bytes < decoded
    cache.open(small, [])
    r = cache.open(big, ["t0399", "t0007", "nope"])
    assert r.postings.num_rows == 2
    assert list(r.rows(["t0399", "t0007", "nope"])) == ["t0007", "t0399"]
    assert r.rows(["t0007"])["t0007"]["df"] == 8
    assert r.norms()[1].tolist() == [0, 1, 2, 3]
    assert big not in cache and small in cache


def test_footer_estimate_covers_a_built_segment(spark):
    """The size a kept reader is counted at, estimated from the footer,
    is at least what its table and ``term → row`` dict measure, and not
    far over."""
    import sys
    d = tempfile.mkdtemp(prefix="lucene_spark_segreader_size_")
    build_index(spark, spark.createDataFrame(generate_corpus(300, seed=2)),
                d, num_segments=2, store_positions=True)
    for seg_dir in Searcher(spark, d).seg_dirs.values():
        r = ReaderCache(1 << 30).open(seg_dir, [])
        row = r._row
        measured = (r.postings.nbytes + sys.getsizeof(row)
                    + sum(map(sys.getsizeof, row))
                    + sum(sys.getsizeof(i) for i in row.values() if i > 256))
        assert measured <= r.nbytes <= 1.25 * measured


def test_directory_replaced_at_the_same_path_is_read_again(tmp_path):
    """A publish renames a new directory into place, so a segment rebuilt
    at the same path has a new identity and is never served stale."""
    d = _write_segment(tmp_path / "seg=0", ["old"])
    cache = ReaderCache(1 << 30)
    assert list(cache.open(d, ["old"]).rows(["old"])) == ["old"]
    new = _write_segment(tmp_path / "_tmp-new", ["new"], n_docs=2)
    shutil.rmtree(d)
    os.rename(new, d)
    r = cache.open(d, ["old", "new"])
    assert list(r.rows(["old", "new"])) == ["new"]
    assert r.norms()[0].tolist() == [0, 1]
    assert cache.open(d, []) is r


def test_merged_postings_parts_read_in_range_order(tmp_path):
    """A merged segment's ``postings.parquet`` is a directory of
    term-range part files; the reader reads them in name order."""
    d = _write_segment(tmp_path / "seg", ["unused"])
    parts = os.path.join(d, "postings.parquet")
    os.remove(parts)
    os.makedirs(parts)
    for i, terms in enumerate((["a", "b"], ["c"], ["d", "e"])):
        pq.write_table(pa.table({"term": terms}),
                       os.path.join(parts, f"part-{i:05d}.parquet"))
    r = ReaderCache(1 << 30).open(d, [])
    assert r.postings.column("term").to_pylist() == list("abcde")
    assert list(r.rows(["e", "a", "c"])) == ["a", "c", "e"]
    small = ReaderCache(1)                   # read for the terms only
    for terms in (["e", "a", "c", "zz"], ["b"], ["0", "bb", "zz"], []):
        r = small.open(d, terms)
        assert r.postings.column("term").to_pylist() == sorted(
            set(terms) & set("abcde")), terms
    assert d not in small


def test_threads_share_one_cache(tmp_path):
    """Threads opening segments through one small cache, with a short
    switch interval: every reader answers with its own segment's rows,
    and the cache ends within its bound."""
    import sys
    import threading
    dirs = [_write_segment(tmp_path / f"s{i}",
                           [f"s{i}t{j}" for j in range(40)])
            for i in range(6)]
    cache = ReaderCache(2 * _size(dirs[0]))
    wrong = []

    def work(seed):
        rng = np.random.default_rng(seed)
        for _ in range(200):
            i = int(rng.integers(len(dirs)))
            r = cache.open(dirs[i], [])
            r.norms()
            if list(r.rows([f"s{i}t3"])) != [f"s{i}t3"]:
                wrong.append(i)

    was = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(n,)) for n in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(was)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert sum(cache.open(d, []).nbytes for d in dirs if d in cache) \
        <= cache.max_bytes


# -- through the Python workers, at local[4] ---------------------------------

def _top(searcher, text: str) -> list[tuple[int, int]]:
    """Top-K of ``text`` as (doc id, float32 score bits)."""
    return [(int(r["doc_id"]), int(np.float32(r["score"]).view(np.uint32)))
            for r in searcher.search(parse(text), k=K).collect()]


def _oracle_top(oracle, text: str) -> list[tuple[int, int]]:
    return [(int(d), int(np.float32(s).view(np.uint32)))
            for d, s in oracle.top_k(parse(text), K)]


QUERIES = ["if", "return", "if OR return", "parse AND emit",
           "token OR flush OR scan", "codec", "\"return if\"", "merge",
           "index OR util", "emit"]


def test_rebuilt_index_at_the_same_path_is_read_again(spark):
    """Every worker holds readers of the first index; the index is then
    removed and a different corpus built into the same directory, at the
    same segment paths. A new Searcher answers from the new files."""
    d = tempfile.mkdtemp(prefix="lucene_spark_segreader_rebuild_")
    build_index(spark, spark.createDataFrame(generate_corpus(300, seed=3)),
                d, num_segments=4)
    first = Searcher(spark, d)
    for _ in range(2):
        for text in QUERIES:
            first.search(parse(text), k=K).collect()
    paths = sorted(first.seg_dirs.values())
    shutil.rmtree(d)
    corpus = generate_corpus(300, seed=4)
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    again = Searcher(spark, d)
    assert sorted(again.seg_dirs.values()) == paths
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))
    for _ in range(2):
        for text in QUERIES:
            assert _top(again, text) == _oracle_top(oracle, text), text


def test_older_snapshot_keeps_its_own_hits(spark):
    """A Searcher on an older snapshot answers bit-identically after an
    append and a merge; a new Searcher sees every doc."""
    d = tempfile.mkdtemp(prefix="lucene_spark_segreader_snap_")
    corpus = generate_corpus(400, seed=5)
    head, tail = corpus.iloc[:300], corpus.iloc[300:]
    build_index(spark, spark.createDataFrame(head), d, num_segments=4)
    old = Searcher(spark, d)
    before = {text: _top(old, text) for text in QUERIES}
    build_index(spark, spark.createDataFrame(tail), d, num_segments=2)
    force_merge(spark, d, max_segments=2)
    assert {text: _top(old, text) for text in QUERIES} == before
    for text in QUERIES:           # the old reader again, now warm
        assert _top(old, text) == before[text], text
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))
    new = Searcher(spark, d)
    assert set(new.seg_dirs.values()) - set(old.seg_dirs.values())
    for text in QUERIES:
        assert _top(new, text) == _oracle_top(oracle, text), text


def test_cold_and_warm_answers_are_bit_identical(spark):
    """The reference query set, first against a new index (no worker
    holds a reader of it) and then again, warm: the same top-K, equal to
    the oracle's."""
    d = tempfile.mkdtemp(prefix="lucene_spark_segreader_warm_")
    corpus = generate_corpus(400, seed=6)
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=8)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))
    texts = generate_query_set({t: oracle.df(t) for t in oracle.postings},
                               seed=6)
    s = Searcher(spark, d)
    cold = {qid: _top(s, text) for qid, text in texts.items()}
    warm = {qid: _top(s, text) for qid, text in texts.items()}
    assert warm == cold
    assert cold == {qid: _oracle_top(oracle, text)
                    for qid, text in texts.items()}
