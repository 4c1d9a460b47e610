"""End-to-end engine tests: build on Spark, search, rank-identical parity
vs the brute-force oracle (exact float32 score equality — stricter than
the reference's CheckHits 1e-6 tolerance), CheckIndex-style invariants,
and kill-and-resume."""

import hashlib
import os
import tempfile

import numpy as np
import pytest

from lucene_spark.functions import codec
from lucene_spark.functions.smallfloat import int_to_byte4
from lucene_spark.operators.build import build_index
from lucene_spark.operators.search import Searcher
from lucene_spark.oracle import OracleIndex
from lucene_spark.plans.parser import parse
from lucene_spark.plans.query import Synonym
from lucene_spark.sources.corpus import generate_corpus

N_DOCS = 400
N_SEGS = 8

QUERIES = [
    "if",                      # max-df term
    "parse",                   # mid-df
    "codec AND util",          # AND
    "if AND return",           # high-df AND (tiny scores)
    "parse OR emit OR token",  # OR disjunction
    "scan OR flush",
    "query AND index AND merge",
    "scan -flush",             # MUST_NOT
    "score AND NOT doc",
    '"mixed case"',            # phrase (string literal in corpus)
    '"mixed case literal"',    # 3-term phrase
    "getIdx OR parse",         # absent term in OR → dropped clause
    "nosuchterm",              # fully absent
    "nosuchterm AND parse",    # AND with absent → empty
    "(scan OR flush) AND index",
    "field^2 OR block",        # boost
]


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))


@pytest.fixture(scope="module")
def index_dir(spark, corpus):
    d = tempfile.mkdtemp(prefix="lucene_spark_idx_")
    df = spark.createDataFrame(corpus)
    snap = build_index(spark, df, d, num_segments=N_SEGS)
    assert snap.snapshot_id == 1
    return d


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return Searcher(spark, index_dir)


# ---------------------------------------------------------------------------
# Rank + score parity
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("qtext", QUERIES)
def test_rank_identical_exhaustive(searcher, oracle, qtext):
    got = [(r.doc_id, r.score) for r in
           searcher.search(qtext, k=10, mode="exhaustive").collect()]
    want = oracle.top_k(parse(qtext), k=10)
    assert [g[0] for g in got] == [w[0] for w in want], f"docs differ for {qtext}"
    for (gd, gs), (wd, ws) in zip(got, want):
        assert np.float32(gs) == np.float32(ws), \
            f"score mismatch {qtext} doc {gd}: {gs} vs {ws}"


@pytest.mark.parametrize("qtext", QUERIES)
def test_bmw_equals_exhaustive(searcher, qtext):
    ex = [(r.doc_id, r.score) for r in
          searcher.search(qtext, k=10, mode="exhaustive").collect()]
    bm = [(r.doc_id, r.score) for r in
          searcher.search(qtext, k=10, mode="bmw").collect()]
    assert ex == bm, f"bmw diverges for {qtext}"


def test_fuzzed_queries_parity(searcher, oracle, corpus):
    """Randomized differential queries over real vocabulary at mixed df."""
    rng = np.random.RandomState(7)
    vocab = sorted(oracle.postings, key=lambda t: -oracle.df(t))
    hi = vocab[:20]
    mid = vocab[len(vocab) // 3: len(vocab) // 3 + 50]
    rare = vocab[-50:]
    pools = [hi, mid, rare]
    for i in range(25):
        terms = []
        for _ in range(rng.randint(1, 4)):
            pool = pools[rng.randint(3)]
            terms.append(pool[rng.randint(len(pool))])
        op = " AND " if rng.rand() < 0.5 else " OR "
        qtext = op.join(t for t in terms if "'" not in t) or "parse"
        got = [(r.doc_id, r.score) for r in
               searcher.search(qtext, k=10, mode="auto").collect()]
        want = oracle.top_k(parse(qtext), k=10)
        assert [g[0] for g in got] == [w[0] for w in want], qtext
        for (gd, gs), (wd, ws) in zip(got, want):
            assert np.float32(gs) == np.float32(ws), (qtext, gd)


def test_synonym_query(searcher, oracle):
    q = Synonym(("scan", "flush"))
    got = [(r.doc_id, r.score) for r in searcher.search(q, k=10).collect()]
    want = oracle.top_k(q, k=10)
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gd, gs), (_, ws) in zip(got, want):
        assert np.float32(gs) == np.float32(ws)


def test_count_matches_oracle(searcher, oracle):
    for qtext in ["parse", "scan OR flush", "codec AND util", "nosuchterm"]:
        assert searcher.count(qtext) == len(oracle.score(parse(qtext)))


def test_search_after_pages(searcher, oracle):
    qtext = "parse OR emit OR token"
    want = oracle.top_k(parse(qtext), k=20)
    page1 = [(r.doc_id, r.score) for r in searcher.search(qtext, k=10).collect()]
    last = page1[-1]
    page2 = [(r.doc_id, r.score) for r in
             searcher.search(qtext, k=10, after=(last[1], last[0])).collect()]
    assert [p[0] for p in page1 + page2] == [w[0] for w in want]


def test_rank_column(searcher):
    rows = searcher.search("parse OR emit", k=5).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))


# ---------------------------------------------------------------------------
# Stats + invariants (CheckIndex model: reference index/CheckIndex.java)
# ---------------------------------------------------------------------------

def test_global_stats_match_oracle(searcher, oracle):
    assert searcher.doc_count == oracle.doc_count
    assert searcher.sum_ttf == oracle.sum_ttf
    rows = searcher.term_stats.collect()
    got = {r["term"]: (r["df"], r["ttf"]) for r in rows}
    assert len(got) == len(oracle.postings)
    for t in list(oracle.postings)[::37]:
        assert got[t] == (oracle.df(t), oracle.ttf(t)), t


def test_checkindex_invariants(spark, index_dir, corpus):
    import pandas as pd
    seg_dir = os.path.join(index_dir, "segments", "seg=0")
    postings = pd.read_parquet(os.path.join(seg_dir, "postings.parquet"))
    meta = pd.read_parquet(os.path.join(seg_dir, "doc_meta.parquet"))
    norms = pd.read_parquet(os.path.join(seg_dir, "norms.parquet"))
    n = int(norms.iloc[0]["num_docs"])
    # dense local ids 0..n-1
    assert list(meta["local_doc_id"]) == list(range(n))
    # norm byte == SmallFloat(doc_len)
    assert np.array_equal(meta["norm_byte"].to_numpy(),
                          int_to_byte4(meta["doc_len"].to_numpy()).astype(np.int32))
    nb = np.frombuffer(norms.iloc[0]["norm_bytes"], dtype=np.uint8)
    assert np.array_equal(nb.astype(np.int32), meta["norm_byte"].to_numpy())
    for _, row in postings.iterrows():
        dec = codec.decode_postings(row, with_positions=True)
        ids, tfs = dec["doc_ids"], dec["tfs"]
        assert len(ids) == row["df"]                       # df == len(doc_ids)
        assert np.all(np.diff(ids) > 0)                    # strictly increasing
        assert int(tfs.sum()) == row["ttf"]                # sum tf == ttf
        assert np.all(ids < n) and np.all(ids >= 0)
        bl = codec.decode_block_ranges(row["block_last"])
        assert bl[-1] == ids[-1]
        assert np.all(tfs >= 1)
        assert np.all(dec["positions"] >= 0)


def test_sha256_invariant(index_dir, corpus):
    """Per-row content sha256 equality vs source (north-star invariant)."""
    import pandas as pd
    metas = []
    for s in range(N_SEGS):
        metas.append(pd.read_parquet(
            os.path.join(index_dir, "segments", f"seg={s}", "doc_meta.parquet")))
    meta = pd.concat(metas).set_index("doc_id")
    assert len(meta) == len(corpus)
    for _, row in corpus.sample(40, random_state=0).iterrows():
        want = hashlib.sha256(row["content"].encode("utf-8")).hexdigest()
        assert meta.loc[row["doc_id"], "sha256"] == want


# ---------------------------------------------------------------------------
# Resume from checkpoint
# ---------------------------------------------------------------------------

def test_kill_and_resume(spark, corpus, oracle):
    from pyspark.sql import functions as F
    d = tempfile.mkdtemp(prefix="lucene_spark_resume_")
    df = spark.createDataFrame(corpus)
    # simulate a run killed after half the segments flushed: build only the
    # doc subset that lands in segments 0..3 (same content those segments
    # get in a full run, since seg = doc_id % N)
    partial = df.filter(F.pmod(F.col("doc_id"), F.lit(N_SEGS)) < N_SEGS // 2)
    snap1 = build_index(spark, partial, d, num_segments=N_SEGS,
                        build_id="resume")
    assert len(snap1.seg_ids) == N_SEGS // 2
    # resume with the FULL input: committed segments must be skipped
    snap2 = build_index(spark, df, d, num_segments=N_SEGS, build_id="resume")
    assert snap2.snapshot_id == snap1.snapshot_id + 1
    assert len(snap2.seg_ids) == N_SEGS
    statuses = {s["seg_id"]: s["status"] for s in snap2.segments}
    for s in range(N_SEGS // 2):
        assert statuses[s] in ("reused", "built")  # driver-side skip keeps stats
    assert snap2.field_stats["doc_count"] == len(corpus)
    # and the resumed index is rank-identical to the oracle
    se = Searcher(spark, d)
    got = [(r.doc_id, r.score) for r in
           se.search("parse OR emit OR token", k=10).collect()]
    want = oracle.top_k(parse("parse OR emit OR token"), k=10)
    assert [(g, np.float32(s)) for g, s in got] \
        == [(w, np.float32(s)) for w, s in want]


def test_fuzzed_structured_queries_parity(searcher, oracle, corpus):
    """Deep differential fuzz: random NESTED query trees mixing every
    scored node type (Term w/ boost, Or w/ minShouldMatch, And, Not,
    DisMax, Synonym, exact Phrase, n-term sloppy Phrase, and span
    algebra subtrees: Near/Or/Not/First/Containing/Within) — ranks and
    float32 scores must be identical to the oracle in both scoring
    modes."""
    from lucene_spark.functions.analysis import analyze_text
    from lucene_spark.plans import query as Q
    rng = np.random.RandomState(23)
    vocab = sorted(oracle.postings, key=lambda t: -oracle.df(t))
    pool = vocab[:60]
    # real adjacent bigrams from the corpus so phrase clauses can match
    bigrams = []
    for text in corpus.content.head(40):
        toks = analyze_text(text)[0]
        bigrams.extend(zip(toks, toks[1:]))
    bigrams = sorted(set(bigrams))

    def term():
        t = pool[rng.randint(len(pool))]
        boost = float(rng.choice([1.0, 1.0, 2.0, 0.5]))
        return Q.Term(t, boost)

    def distinct_terms(n):
        return tuple(rng.choice(pool, size=n, replace=False))

    def span(depth=0):
        r = rng.rand()
        if depth >= 2 or r < 0.35:
            if rng.rand() < 0.5:
                return Q.Term(pool[rng.randint(len(pool))])
            return Q.SpanNear(distinct_terms(int(rng.randint(2, 4))),
                              slop=int(rng.randint(0, 8)),
                              in_order=bool(rng.rand() < 0.5))
        if r < 0.55:
            return Q.SpanOr(tuple(span(depth + 1)
                                  for _ in range(rng.randint(2, 4))))
        if r < 0.7:
            return Q.SpanNot(span(depth + 1), span(depth + 1))
        if r < 0.8:
            return Q.SpanFirst(span(depth + 1), int(rng.randint(3, 40)))
        if r < 0.9:
            return Q.SpanContaining(span(depth + 1), span(depth + 1))
        return Q.SpanWithin(span(depth + 1), span(depth + 1))

    def gen(depth):
        r = rng.rand()
        if depth >= 2 or r < 0.3:
            return term()
        kids = tuple(gen(depth + 1) for _ in range(rng.randint(2, 4)))
        if r < 0.48:
            msm = int(rng.randint(0, 2))
            return Q.Or(kids, min_should_match=msm)
        if r < 0.6:
            return Q.And(kids)
        if r < 0.68:
            return Q.DisMax(kids, float(rng.choice([0.0, 0.3])))
        if r < 0.76:
            ts = tuple(pool[rng.randint(len(pool))] for _ in range(2))
            return Q.Synonym(ts)
        if r < 0.83:
            return Q.Phrase(bigrams[rng.randint(len(bigrams))])
        if r < 0.88:
            # sloppy n-term phrase seeded with a real bigram
            big = bigrams[rng.randint(len(bigrams))]
            ts = big if len(set(big)) == 2 else (big[0],)
            extra = tuple(t for t in distinct_terms(1) if t not in ts)
            ts = ts + extra if rng.rand() < 0.5 and extra else ts
            if len(ts) < 2:
                return term()
            return Q.Phrase(ts, slop=int(rng.randint(1, 6)))
        if r < 0.95:
            return span()
        return Q.Not(kids[0], kids[1])

    checked = 0
    for i in range(20):
        # compare on the post-rewrite tree — the engine rewrites before
        # scoring (flattening changes float grouping), the oracle doesn't
        q = Q.rewrite_fixed_point(gen(0))
        want = oracle.top_k(q, k=10)
        for mode in ("exhaustive", "auto"):
            got = [(r.doc_id, r.score) for r in
                   searcher.search(q, k=10, mode=mode).collect()]
            assert [g[0] for g in got] == [w[0] for w in want], (i, mode, q)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert np.float32(gs) == np.float32(ws), (i, mode, gd)
        checked += 1
    assert checked == 20


def test_synonym_indexed_build_matches_oracle(spark, tmp_path):
    """Index-time SynonymGraphFilter: overlap tokens feed tf/df/ttf and
    avgdl; norms discount them by default (discountOverlaps) and include
    them when disabled — both engine builds match the oracle exactly."""
    import numpy as np

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(150, seed=29)
    syn = {"stream": ("flow",), "parse": ("analyze",)}
    for discount in (True, False):
        d = str(tmp_path / f"synidx_{discount}")
        build_index(spark, spark.createDataFrame(corpus), d,
                    num_segments=3, synonyms=syn,
                    discount_overlaps=discount)
        s = Searcher(spark, d)
        oracle = OracleIndex.build(
            list(zip(corpus.doc_id, corpus.content)), synonyms=syn,
            discount_overlaps=discount)
        # collection stats include overlap tokens
        assert s.sum_ttf == oracle.sum_ttf
        for q in (Q.Term("flow"), Q.Term("analyze"), Q.Term("parse"),
                  Q.Phrase(("flow", "emit"))):
            got = [(r["doc_id"], np.float32(r["score"]))
                   for r in s.search(q, k=10).collect()]
            want = [(doc, np.float32(sc))
                    for doc, sc in oracle.top_k(q, k=10)]
            assert got == want, (q, discount)
        from lucene_spark.operators.checkindex import check_index
        check_index(d)


def test_index_sorting_early_termination(spark, tmp_path):
    """IndexSorter: segments physically ordered by the sort key. The
    early-terminating sorted_top_k equals a full sort; BM25 results are
    unchanged vs an unsorted build (global ids and scores are local-order
    independent); direction mismatch refuses; tombstones widen the
    per-segment prefix instead of under-filling."""
    import numpy as np

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.delete import delete_by_ids
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(120, seed=41)
    corpus["n_chars"] = corpus.content.str.len()
    plain = str(tmp_path / "plain")
    srt = str(tmp_path / "sorted")
    build_index(spark, spark.createDataFrame(corpus), plain, num_segments=3)
    build_index(spark, spark.createDataFrame(corpus), srt, num_segments=3,
                sort_field="n_chars", sort_ascending=False)
    s_plain, s_sorted = Searcher(spark, plain), Searcher(spark, srt)
    # BM25 parity: local reordering must not change results
    for q in (Q.Term("parse"), Q.And((Q.Term("parse"), Q.Term("emit")))):
        a = [(r["doc_id"], np.float32(r["score"]))
             for r in s_plain.search(q, k=10).collect()]
        b = [(r["doc_id"], np.float32(r["score"]))
             for r in s_sorted.search(q, k=10).collect()]
        assert a == b, q
    # early-terminated top-k == full sort
    want = [(int(d), int(n)) for d, n in
            corpus.sort_values(["n_chars", "doc_id"],
                               ascending=[False, True])
            .head(7)[["doc_id", "n_chars"]].to_numpy()]
    got = [(r["doc_id"], r["n_chars"])
           for r in s_sorted.sorted_top_k(7).collect()]
    assert got == want
    import pytest as _pt
    with _pt.raises(ValueError, match="direction"):
        s_sorted.sorted_top_k(5, ascending=True)
    with _pt.raises(ValueError, match="sort_field"):
        s_plain.sorted_top_k(5)
    # tombstone the current global top doc; top-k must backfill correctly
    top_doc = want[0][0]
    from lucene_spark.operators.delete import locate_global_ids
    from lucene_spark.sources.catalog import SnapshotCatalog
    cat = SnapshotCatalog(srt)
    located = locate_global_ids(cat, cat.load(), [top_doc], spark=spark)
    delete_by_ids(spark, srt, located)
    s2 = Searcher(spark, srt)
    got2 = [(r["doc_id"], r["n_chars"])
            for r in s2.sorted_top_k(7).collect()]
    want2 = [w for w in want if w[0] != top_doc]
    want2 = [(int(d), int(n)) for d, n in
             corpus.sort_values(["n_chars", "doc_id"],
                                ascending=[False, True])
             [corpus.doc_id != top_doc]
             .head(7)[["doc_id", "n_chars"]].to_numpy()]
    assert got2 == want2


def test_shingle_indexed_build(spark, tmp_path):
    """Index-time ShingleFilter (analysis/common shingle/ShingleFilter
    .java:61, outputUnigrams=true): shingle tokens count in
    tf/df/sumTotalTermFreq (so avgdl) as posInc=0 overlaps; norms
    discount them by default and include them when disabled. Shingle
    terms score as plain TermQuerys, bit-exact vs the oracle built over
    the same expanded stream."""
    import numpy as np

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(150, seed=31)
    for discount in (True, False):
        d = str(tmp_path / f"shidx_{discount}")
        build_index(spark, spark.createDataFrame(corpus), d,
                    num_segments=3, shingles=(2, 2),
                    discount_overlaps=discount)
        s = Searcher(spark, d)
        oracle = OracleIndex.build(
            list(zip(corpus.doc_id, corpus.content)), shingles=(2, 2),
            discount_overlaps=discount)
        assert s.sum_ttf == oracle.sum_ttf
        # pick a real bigram from the oracle dictionary
        big = max((t for t in oracle.postings if " " in t),
                  key=lambda t: len(oracle.postings[t]))
        for q in (Q.Term(big), Q.Term("parse"),
                  Q.Or((Q.Term(big), Q.Term("emit")))):
            got = [(r["doc_id"], np.float32(r["score"]))
                   for r in s.search(q, k=10).collect()]
            want = [(doc, np.float32(sc))
                    for doc, sc in oracle.top_k(q, k=10)]
            assert len(want) > 0
            assert got == want, (q, discount)
        from lucene_spark.operators.checkindex import check_index
        check_index(d)
    import pytest
    with pytest.raises(ValueError):
        build_index(spark, spark.createDataFrame(corpus),
                    str(tmp_path / "bad"), num_segments=2,
                    shingles=(2, 2), synonyms={"a": ("b",)})


def test_ascii_folding_build(spark, tmp_path):
    """ASCIIFoldingFilter at index time (analysis/common miscellaneous/
    ASCIIFoldingFilter.java:146): accented corpus tokens fold to ASCII
    before stop/stem, so queries on the folded form match; BM25
    bit-exact vs the oracle analyzed with the same folding."""
    import numpy as np

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(120, seed=33)
    d = str(tmp_path / "foldidx")
    build_index(spark, spark.createDataFrame(corpus), d,
                num_segments=3, ascii_folding=True)
    s = Searcher(spark, d)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)),
                               ascii_folding=True)
    assert s.sum_ttf == oracle.sum_ttf
    # the generator corpus plants 'Ünïcode_väl' → folded 'unicode_val'
    assert "unicode_val" in oracle.postings
    for q in (Q.Term("unicode_val"), Q.Term("parse"),
              Q.Or((Q.Term("unicode_val"), Q.Term("emit")))):
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in s.search(q, k=10).collect()]
        want = [(doc, np.float32(sc)) for doc, sc in oracle.top_k(q, k=10)]
        assert len(want) > 0
        assert got == want, q


def test_common_grams_build(spark, tmp_path):
    """CommonGramsFilter (analysis/common commongrams/CommonGramsFilter
    .java): pairs around common words emit '_'-joined grams as posInc=0
    overlaps; the gram scores as a plain TermQuery bit-exact vs the
    oracle over the same expanded stream."""
    import numpy as np

    from lucene_spark.functions.analysis import (analyze_text,
                                                 expand_common_grams_text)
    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(150, seed=47)
    common = frozenset({"if", "the", "for"})
    d = str(tmp_path / "cgidx")
    build_index(spark, spark.createDataFrame(corpus), d,
                num_segments=3, common_grams=common)
    s = Searcher(spark, d)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)),
                               common_grams=common)
    assert s.sum_ttf == oracle.sum_ttf
    gram = max((t for t in oracle.postings if "_" in t
                and any(p in common for p in t.split("_"))),
               key=lambda t: len(oracle.postings[t]))
    for q in (Q.Term(gram), Q.Term("if"),
              Q.Or((Q.Term(gram), Q.Term("parse")))):
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in s.search(q, k=10).collect()]
        want = [(doc, np.float32(sc)) for doc, sc in oracle.top_k(q, k=10)]
        assert len(want) > 0 and got == want, q
    # text twin semantics: gram at left token's position
    t, p, _ = analyze_text("run the loop")
    t2, p2, n = expand_common_grams_text(t, p, common)
    assert ("run_the", 0) in list(zip(t2, p2))
    assert ("the_loop", 1) in list(zip(t2, p2)) and n == 2
    import pytest
    with pytest.raises(ValueError):
        build_index(spark, spark.createDataFrame(corpus),
                    str(tmp_path / "bad2"), num_segments=2,
                    common_grams=common, shingles=(2, 2))


def test_common_grams_query_filter(spark, tmp_path):
    """CommonGramsQueryFilter: query phrases containing common words
    rewrite to gram phrases that hit the common-grams index — same
    match set as the plain phrase on a plain index, scored over the
    gram stream, engine ≡ oracle."""
    import numpy as np

    from lucene_spark.functions.analysis import common_grams_query_stream
    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    # rewrite goldens (CommonGramsQueryFilter test shapes)
    c = frozenset({"the"})
    assert common_grams_query_stream(["run", "the", "loop"], c) == \
        [("run_the", 0), ("the_loop", 1)]
    assert common_grams_query_stream(["the", "fox"], c) == [("the_fox", 0)]
    assert common_grams_query_stream(["fox", "the"], c) == [("fox_the", 0)]
    assert common_grams_query_stream(["the"], c) == [("the", 0)]
    assert common_grams_query_stream(["a", "b"], c) == [("a", 0), ("b", 1)]

    corpus = generate_corpus(150, seed=47)
    common = frozenset({"if", "the", "for"})
    d = str(tmp_path / "cgq")
    build_index(spark, spark.createDataFrame(corpus), d,
                num_segments=3, common_grams=common)
    s = Searcher(spark, d)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)),
                               common_grams=common)
    # pick a real adjacent pair around a common word from the oracle
    gram = max((t for t in oracle.postings if "_" in t
                and any(p in common for p in t.split("_"))),
               key=lambda t: len(oracle.postings[t]))
    a, b = gram.split("_", 1) if gram.count("_") == 1 else (None, None)
    if a is None:
        return
    stream = common_grams_query_stream([a, b], common)
    terms = tuple(t for t, _ in stream)
    poss = tuple(p for _, p in stream)
    q = (Q.Term(terms[0]) if len(terms) == 1
         else Q.Phrase(terms, positions=poss))
    got = [(r["doc_id"], np.float32(r["score"]))
           for r in s.search(q, k=10).collect()]
    want = [(doc, np.float32(sc)) for doc, sc in oracle.top_k(q, k=10)]
    assert len(want) > 0 and got == want
    # gram-phrase match set == plain adjacent-pair phrase match set
    plain_oracle = OracleIndex.build(
        list(zip(corpus.doc_id, corpus.content)))
    plain = set(plain_oracle.score(Q.Phrase((a, b))))
    assert set(oracle.score(q)) == plain
