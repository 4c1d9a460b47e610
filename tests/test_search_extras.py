"""Tests for the search-side additions: DisMax scoring, score_all /
matching_docs, and term-dictionary expansion (prefix/wildcard/fuzzy)."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest

from lucene_spark.functions.similarity import SIMILARITIES as SIMS
from lucene_spark.operators.build import build_index
from lucene_spark.operators.search import Searcher
from lucene_spark.oracle import OracleIndex
from lucene_spark.plans import query as Q
from lucene_spark.sources.corpus import generate_corpus

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS, seed=7)


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))


@pytest.fixture(scope="module")
def searcher(spark, corpus):
    d = tempfile.mkdtemp(prefix="lucene_spark_extras_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    return Searcher(spark, d)


def test_one_term_phrase_is_a_term_query(searcher, oracle, corpus):
    """PhraseQuery.rewrite: a one-term phrase scores as its term, sloppy
    or not. Searcher, MemoryIndex and the oracle agree bit for bit."""
    from lucene_spark.operators.memoryindex import MemoryIndex
    want = oracle.score(Q.Term("parse"))
    assert len(want) > 0
    for q in (Q.Phrase(("parse",), slop=2), Q.Phrase(("parse",))):
        assert oracle.score(q) == want
        got = {r["doc_id"]: np.float32(r["score"])
               for r in searcher.score_all(q).collect()}
        assert got == want
        for text in corpus.content[:40]:
            one = OracleIndex.build([(0, str(text))]).score(q)
            assert MemoryIndex(str(text)).search(q) == one.get(0, 0.0)


def test_dismax_rank_and_score_parity(searcher, oracle):
    for tb in (0.0, 0.3):
        q = Q.DisMax((Q.Term("parse"), Q.Term("emit"), Q.Term("token")), tb)
        got = [(r["doc_id"], r["score"]) for r in searcher.search(q, k=10).collect()]
        want = oracle.top_k(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want]
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0)


def test_score_all_equals_oracle_scores(searcher, oracle):
    q = Q.Or((Q.Term("parse"), Q.Term("scan")))
    got = {r["doc_id"]: r["score"]
           for r in searcher.score_all(q).collect()}
    want = {d: float(s) for d, s in oracle.score(q).items()}
    assert got.keys() == want.keys()
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=0)


def test_matching_docs_is_constant_score_match_set(searcher, oracle):
    q = Q.Term("flush")
    got = sorted(r["doc_id"] for r in searcher.matching_docs(q).collect())
    assert got == sorted(oracle.score(q).keys())


def test_expand_terms_prefix_wildcard_fuzzy(searcher, oracle):
    pref = searcher.expand_terms("prefix", "parse")
    assert "parse" in pref
    assert all(t.startswith("parse") for t in pref)

    wild = searcher.expand_terms("wildcard", "fl?sh")
    assert wild == ["flush"]

    fz = searcher.expand_terms("fuzzy", ("parze", 1))
    assert "parse" in fz

    # constant-score union equals the union of per-term match sets
    docs = sorted(r["doc_id"] for r in
                  searcher.docs_matching_any(["flush", "scan"]).collect())
    want = sorted(set(oracle.score(Q.Term("flush")))
                  | set(oracle.score(Q.Term("scan"))))
    assert docs == want


def test_expand_terms_cap(searcher):
    assert len(searcher.expand_terms("prefix", "", max_terms=10)) == 10


MULTITERM_QUERIES = [
    "par*",                    # prefix, constant score
    "fl?sh",                   # wildcard
    "parze~1",                 # fuzzy
    "[parse TO parser]",       # inclusive range
    "{parse TO query}",        # exclusive range
    "par* AND scan",           # constant-score clause inside scored AND
    "flush OR par*",           # mixed disjunction
    "sc*^3 OR flush",          # boosted prefix
]


@pytest.mark.parametrize("qtext", MULTITERM_QUERIES)
def test_multiterm_rank_and_score_parity(searcher, oracle, qtext):
    from lucene_spark.plans.parser import parse
    q = parse(qtext)
    got = [(r["doc_id"], r["score"])
           for r in searcher.search(q, k=10).collect()]
    want = oracle.top_k(q, k=10)
    assert [g[0] for g in got] == [w[0] for w in want], qtext
    assert np.allclose([g[1] for g in got], [w[1] for w in want],
                       rtol=0, atol=0), qtext


def test_min_should_match_parity(searcher, oracle):
    for msm in (1, 2, 3):
        q = Q.Or((Q.Term("parse"), Q.Term("scan"), Q.Term("flush")), msm)
        got = {r["doc_id"]: r["score"]
               for r in searcher.score_all(q).collect()}
        want = {d: float(s) for d, s in oracle.score(q).items()}
        assert got.keys() == want.keys(), f"msm={msm}"
        for d in want:
            assert got[d] == pytest.approx(want[d], abs=0)
    # msm above clause count matches nothing
    q = Q.Or((Q.Term("parse"), Q.Term("scan")), 3)
    assert searcher.search(q, k=5).count() == 0


def test_multiterm_parser_shapes():
    from lucene_spark.plans.parser import parse
    from lucene_spark.plans.query import MultiTerm
    assert parse("par*") == MultiTerm("prefix", "par")
    assert parse("f?o") == MultiTerm("wildcard", "f?o")
    assert parse("word~1") == MultiTerm("fuzzy", "word", edits=1)
    assert parse("word~") == MultiTerm("fuzzy", "word", edits=2)
    assert parse("[aa TO bb]") == MultiTerm("range", ("aa", "bb", True, True))
    assert parse("{aa TO bb}") == MultiTerm("range", ("aa", "bb", False, False))


def test_sloppy_phrase_parity(searcher, oracle):
    from lucene_spark.plans.parser import parse
    cases = ([Q.Phrase(("parse", "emit"), slop=s) for s in (1, 2, 4)]
             + [Q.Phrase(("parse", "emit", "token"), slop=s)
                for s in (2, 6)]
             + [Q.Phrase(("codec", "util", "index", "merge"), slop=10)])
    for q in cases:
        got = [(r["doc_id"], r["score"])
               for r in searcher.search(q, k=10).collect()]
        want = oracle.top_k(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0)
    # parser syntax: "a b"~2
    assert parse('"a b"~2') == Q.Phrase(("a", "b"), 2)
    # sloppy superset of exact matches
    exact = set(oracle.score(Q.Phrase(("parse", "emit"))))
    sloppy = set(oracle.score(Q.Phrase(("parse", "emit"), slop=3)))
    assert exact <= sloppy


def test_multi_phrase_parity(searcher, oracle, corpus):
    """MultiPhraseQuery (reference search/MultiPhraseQuery.java:57):
    engine kernel vs OracleIndex vs a brute-force per-doc scan."""
    cases = [
        Q.MultiPhrase((("parse", "scan"), ("emit",))),
        Q.MultiPhrase((("parse",), ("emit", "token"))),
        Q.MultiPhrase((("codec", "util"), ("index", "merge"), ("flush",))),
        # duplicate alternative + df=0 alternative in a slot
        Q.MultiPhrase((("parse", "parse", "zzz_absent"), ("emit",))),
    ]
    for q in cases:
        got = [(r["doc_id"], r["score"])
               for r in searcher.search(q, k=10).collect()]
        want = oracle.top_k(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0), q

    # brute-force freq check of the union-position semantics
    q = cases[0]
    texts = dict(zip(corpus.doc_id, corpus.content))
    matched = set(oracle.score(q))
    for d in list(matched)[:50]:
        toks = texts[d].split()
        freq = sum(
            1 for p in range(len(toks) - 1)
            if toks[p] in ("parse", "scan") and toks[p + 1] == "emit")
        assert freq > 0, d
    for d, toks in list(texts.items())[:200]:
        toks = toks.split()
        freq = sum(
            1 for p in range(len(toks) - 1)
            if toks[p] in ("parse", "scan") and toks[p + 1] == "emit")
        assert (freq > 0) == (d in matched)

    # singleton slots degenerate to the exact PhraseQuery scores
    mp = oracle.score(Q.MultiPhrase((("parse",), ("emit",))))
    ph = oracle.score(Q.Phrase(("parse", "emit")))
    assert mp.keys() == ph.keys()
    for d in mp:
        assert float(mp[d]) == float(ph[d])

    # a slot whose every alternative is absent can never match
    assert searcher.search(
        Q.MultiPhrase((("parse",), ("zzz_absent",))), k=5).count() == 0


def test_gap_phrase_parity(searcher, oracle, corpus):
    """PhraseQuery with explicit builder positions
    (search/PhraseQuery.java:103 — e.g. stopword holes): clause j at
    start + positions[j] when exact; offset-adjusted by -positions[j]
    when sloppy."""
    cases = [
        Q.Phrase(("if", "return"), positions=(0, 2)),
        Q.Phrase(("return", "if", "import"), positions=(0, 2, 5)),
        Q.Phrase(("if", "return"), slop=2, positions=(0, 2)),
        Q.Phrase(("return", "if", "import"), slop=4, positions=(0, 2, 5)),
    ]
    for q in cases:
        got = [(r["doc_id"], r["score"])
               for r in searcher.search(q, k=10).collect()]
        want = oracle.top_k(q, k=10)
        assert len(want) > 0, f"vacuous gap-phrase case: {q}"
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0), q

    # brute-force check of the exact gapped match set over ANALYZED
    # token streams (the index positions, not raw whitespace offsets)
    from lucene_spark.functions.analysis import analyze_text
    q = cases[0]
    matched = set(oracle.score(q))
    hits = 0
    for d, text in zip(corpus.doc_id, corpus.content):
        toks = analyze_text(text)[0]
        freq = sum(1 for p in range(len(toks) - 2)
                   if toks[p] == "if" and toks[p + 2] == "return")
        assert (freq > 0) == (d in matched), d
        hits += freq > 0
    assert hits > 0  # non-vacuous

    # consecutive positions degenerate to the default phrase
    a = oracle.score(Q.Phrase(("parse", "emit"), positions=(0, 1)))
    b = oracle.score(Q.Phrase(("parse", "emit")))
    assert a.keys() == b.keys()
    for d in a:
        assert float(a[d]) == float(b[d])

    # validation: non-increasing positions rejected
    with pytest.raises(ValueError):
        searcher.search(Q.Phrase(("parse", "emit"), positions=(2, 0)),
                        k=5).collect()


def test_boosted_synonym_parity(searcher, oracle):
    """SynonymQuery.Builder.addTerm(term, boost)
    (SynonymQuery.java:80,537-543): freq = sum of boost_i * tf_i
    (float32 products); stats unboosted; boosts outside (0, 1]
    rejected."""
    q = Q.Synonym(("parse", "scan"), boosts=(1.0, 0.3))
    got = [(r["doc_id"], r["score"])
           for r in searcher.search(q, k=10).collect()]
    want = oracle.top_k(q, k=10)
    assert len(want) > 0
    assert [(d, np.float32(s)) for d, s in got] == \
        [(d, np.float32(s)) for d, s in want]
    # all-1.0 boosts == unboosted (integer path) scores
    a = oracle.score(Q.Synonym(("parse", "scan"), boosts=(1.0, 1.0)))
    b = oracle.score(Q.Synonym(("parse", "scan")))
    assert a.keys() == b.keys()
    for d in a:
        assert float(a[d]) == float(b[d])
    for bad in ((0.0, 1.0), (1.0, 1.5), (-0.2, 1.0)):
        with pytest.raises(ValueError):
            searcher.search(Q.Synonym(("parse", "scan"), boosts=bad),
                            k=5).collect()


def test_covering_query_parity(searcher, oracle):
    """CoveringQuery (sandbox/search/CoveringQuery.java:51): per-doc
    minMatch; score = float64 sum of matching sub-scores cast float32;
    docs absent from the values source never match; minMatch < 1 clamps
    to 1."""
    clauses = [Q.Term("parse"), Q.Term("emit"), Q.Term("token"),
               Q.Term("flush")]
    per = [oracle.score(c) for c in clauses]

    def brute(mm_of):
        out = {}
        for d in set().union(*per):
            hits = [p[d] for p in per if d in p]
            mm = mm_of(d)
            if mm is None:            # absent from the source
                continue
            if len(hits) >= max(mm, 1):
                out[d] = (len(hits),
                          np.float32(sum(np.float64(h) for h in hits)))
        return out

    spark = searcher.spark
    # constant minMatch (incl. the <1 clamp)
    for mm in (0, 1, 2, 3):
        got = {r["doc_id"]: (r["matched_count"], r["score"])
               for r in searcher.covering(clauses, min_match=mm).collect()}
        want = {d: (c, float(s))
                for d, (c, s) in brute(lambda d: mm).items()}
        assert got == want, mm
    # per-doc values source: doc_id % 3 (+ absent docs never match)
    mm_df = spark.range(0, N_DOCS, 2).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS LONG) AS min_match")
    got = {r["doc_id"]: (r["matched_count"], r["score"])
           for r in searcher.covering(clauses,
                                      min_match_df=mm_df).collect()}
    want = {d: (c, float(s))
            for d, (c, s) in brute(
                lambda d: d % 3 if d % 2 == 0 else None).items()}
    assert got == want and len(got) > 0


def test_explain(searcher, oracle):
    q = Q.Or((Q.Term("parse"), Q.Term("scan")))
    hits = oracle.top_k(q, k=1)
    doc, score = hits[0]
    ex = searcher.explain(q, doc)
    assert ex["match"] is True
    assert ex["value"] == pytest.approx(score, abs=0)
    terms_seen = {d["description"] for d in ex["details"] if d["match"]}
    assert any("parse" in t or "scan" in t for t in terms_seen)
    # non-matching doc
    non = next(d for d in range(N_DOCS)
               if d not in oracle.score(q))
    assert searcher.explain(q, non)["match"] is False


def test_explain_skips_the_deleted_copy_of_an_updated_doc(spark):
    """An updated doc has a tombstoned old copy and a live new one in a
    later segment; explain scores the live copy, the one search scores,
    in a Searcher and, with its seg ids shifted, in a MultiSearcher."""
    import pandas as pd

    from lucene_spark.operators.delete import update_documents
    from lucene_spark.operators.search import MultiSearcher

    def frame(rows):
        return spark.createDataFrame(pd.DataFrame(
            rows, columns=["doc_id", "content"]))

    d = tempfile.mkdtemp(prefix="lucene_spark_explain_upd_")
    build_index(spark, frame([(1, "alpha beta"), (2, "alpha gamma"),
                              (3, "beta gamma")]), d, num_segments=1)
    update_documents(spark, d, frame([(1, "delta delta delta")]))
    other = tempfile.mkdtemp(prefix="lucene_spark_explain_other_")
    build_index(spark, frame([(10, "delta alpha"), (11, "beta")]), other,
                num_segments=2)
    for s in (Searcher(spark, d), MultiSearcher(spark, [other, d])):
        assert 1 not in {r["doc_id"]
                         for r in s.search(Q.Term("alpha")).collect()}
        assert s.explain(Q.Term("alpha"), 1)["match"] is False
        hit = {r["doc_id"]: r["score"]
               for r in s.search(Q.Term("delta")).collect()}[1]
        ex = s.explain(Q.Term("delta"), 1)
        assert ex["match"] is True
        assert np.float32(ex["value"]) == np.float32(hit)
        assert ex["details"]["freq"] == 3


def test_search_many_matches_single_searches(searcher):
    from lucene_spark.plans.parser import parse
    workload = {
        "q_term": "parse",
        "q_and": "codec AND util",
        "q_or": "parse OR emit OR token",
        "q_not": "scan -flush",
        "q_prefix": "par* AND scan",
        "q_absent": "nosuchterm",
        # span / sloppy queries batch identically to single searches
        "q_span": Q.SpanNot(Q.SpanNear(("parse", "emit"), slop=6,
                                       in_order=False), Q.Term("codec")),
        "q_sloppy3": Q.Phrase(("parse", "emit", "token"), slop=8),
        "q_nested": Q.SpanNear((Q.SpanOr((Q.Term("parse"),
                                          Q.Term("scan"))), "emit"),
                               slop=6, in_order=True),
    }
    batch = searcher.search_many(workload, k=10)
    rows = batch.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qid, qtext in workload.items():
        q = parse(qtext) if isinstance(qtext, str) else qtext
        single = [(r["rank"], r["doc_id"], r["score"])
                  for r in searcher.search(q, k=10).collect()]
        got = sorted(by_q.get(qid, []))
        assert got == sorted(single), qid


def test_classic_similarity_parity(spark, searcher, oracle):
    """Pluggable Similarity: Classic TF-IDF end-to-end, rank- and
    score-identical between the distributed engine and the oracle."""
    from lucene_spark.functions.similarity import ClassicSimilarity
    sim = ClassicSimilarity()
    s2 = Searcher(spark, searcher.index_dir, similarity=sim)
    for q in (Q.Term("parse"), Q.Or((Q.Term("parse"), Q.Term("scan"))),
              Q.And((Q.Term("codec"), Q.Term("util")))):
        got = [(r["doc_id"], r["score"]) for r in s2.search(q, k=10).collect()]
        want = oracle.top_k(q, k=10, sim=sim)
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0)
    # different similarity, genuinely different ranking somewhere
    bm = {r["doc_id"] for r in searcher.search(Q.Term("parse"), k=10).collect()}
    cl = {r["doc_id"] for r in s2.search(Q.Term("parse"), k=10).collect()}
    assert bm  # both non-empty; orders may coincide on tiny corpora
    assert cl


@pytest.mark.parametrize("simname", ["lm_dirichlet", "lm_jelinek_mercer",
                                     "dfr_inl2", "boolean", "dfi",
                                     "sweetspot"])
def test_lm_similarity_parity(spark, searcher, oracle, simname):
    """LM Dirichlet / Jelinek-Mercer: rank- and score-identical between
    engine (both scoring modes) and oracle for term/boolean/synonym
    queries; scores are float32 casts of the reference's double math."""
    from lucene_spark.functions.similarity import SIMILARITIES
    sim = SIMILARITIES[simname]()
    s2 = Searcher(spark, searcher.index_dir, similarity=sim)
    for q in (Q.Term("parse"), Q.Term("scan", boost=2.0),
              Q.Or((Q.Term("parse"), Q.Term("scan"))),
              Q.And((Q.Term("codec"), Q.Term("util"))),
              Q.Synonym(("parse", "scan"))):
        want = oracle.top_k(q, k=10, sim=sim)
        for mode in ("exhaustive", "auto"):
            got = [(r["doc_id"], r["score"])
                   for r in s2.search(q, k=10, mode=mode).collect()]
            assert [g[0] for g in got] == [w[0] for w in want], (q, mode)
            assert np.allclose([g[1] for g in got], [w[1] for w in want],
                               rtol=0, atol=0), (q, mode)


@pytest.mark.parametrize("mk", [
    lambda: SIMS["ib"](),                                   # spl·df·h2
    lambda: SIMS["ib"]("ll", "df", "h1", c=1.5),
    lambda: SIMS["ib"]("ll", "ttf", "h3", mu=800.0),
    lambda: SIMS["ib"]("spl", "ttf", "z", z=0.30),
    lambda: SIMS["ib"]("ll", "df", "none"),
    lambda: SIMS["axiomatic"]("f1exp"),
    lambda: SIMS["axiomatic"]("f1log"),
    lambda: SIMS["axiomatic"]("f2exp"),
    lambda: SIMS["axiomatic"]("f2log"),
    lambda: SIMS["indri_dirichlet"](),
    lambda: SIMS["multi"]([SIMS["bm25"](), SIMS["classic"]()]),
    lambda: SIMS["multi"]([SIMS["lm_dirichlet"](), SIMS["dfr_inl2"]()]),
])
def test_ib_axiomatic_indri_parity(spark, searcher, oracle, mk):
    """IB (LL/SPL × DF/TTF × H1/H2/H3/Z/None), Axiomatic F1/F2 EXP/LOG
    and IndriDirichlet: rank- and score-identical between the
    distributed engine (both scoring modes) and the per-doc oracle.
    Indri runs exhaustively (negative scores clear ``nonnegative``)."""
    sim = mk()
    s2 = Searcher(spark, searcher.index_dir, similarity=sim)
    for q in (Q.Term("parse"), Q.Or((Q.Term("parse"), Q.Term("scan"))),
              Q.And((Q.Term("codec"), Q.Term("util"))),
              Q.Synonym(("parse", "scan"))):
        want = oracle.top_k(q, k=10, sim=sim)
        for mode in ("exhaustive", "auto"):
            got = [(r["doc_id"], r["score"])
                   for r in s2.search(q, k=10, mode=mode).collect()]
            assert [g[0] for g in got] == [w[0] for w in want], (q, mode)
            assert np.allclose([g[1] for g in got], [w[1] for w in want],
                               rtol=0, atol=0), (q, mode)


def test_ib_axiomatic_indri_scalar_semantics():
    """Kernel transcription checks against independent closed-form math
    (reference DistributionLL/SPL, NormalizationH1/H2/H3/Z, Axiomatic
    F1/F2, IndriDirichletSimilarity.score)."""
    import math

    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    avgdl = np.float32(25.0)
    b = 40                                  # an arbitrary norm byte
    dl = float(LENGTH_TABLE[b])
    tf = 3.0

    # IB · LL · DF · H2 (c=1):  −ln(λ/(tfn+λ)), tfn = tf·log2(1+avgdl/dl)
    sim = SIMS["ib"]("ll", "df", "h2")
    w = sim.weight(10, 99, 1.0, 30, 1000)
    lam = float(np.float32(11.0 / 100.0))
    tfn = tf * math.log2(1.0 + float(np.float64(avgdl)) / dl)
    want = np.float32(-math.log(lam / (tfn + lam)))
    got = sim.score(np.array([tf]), np.array([b]), w,
                    sim.norm_cache(avgdl))[0]
    assert got == want
    # λ == 1 nudges off 1 (df variant → nextDown)
    w1 = sim.weight(99, 99, 1.0, 0, 0)
    assert 0 < w1[1] < 1.0
    # SPL stays finite at the same corner (pow→λ collapse guarded)
    spl = SIMS["ib"]("spl", "df", "none")
    s = spl.score(np.array([1.0]), np.array([b]),
                  spl.weight(99, 99), spl.norm_cache(avgdl))[0]
    assert np.isfinite(s)

    # IB · H3: tfn = (tf + μ·(ttf+1)/(T+1))/(dl+μ)·μ
    h3 = SIMS["ib"]("ll", "df", "h3", mu=800.0)
    w3 = h3.weight(10, 99, 1.0, 30, 1000)
    mu_p = 800.0 * 31.0 / 1001.0
    tfn3 = (tf + mu_p) / (dl + 800.0) * 800.0
    lam3 = float(np.float32(11.0 / 100.0))
    want3 = np.float32(-math.log(lam3 / (tfn3 + lam3)))
    assert h3.score(np.array([tf]), np.array([b]), w3,
                    h3.norm_cache(avgdl))[0] == want3

    # Axiomatic F2LOG: f/(f+s+s·dl/avgdl) · ln((N+1)/df)
    ax = SIMS["axiomatic"]("f2log")
    wa = ax.weight(10, 99)
    tfln = tf / (tf + 0.25 + 0.25 * dl / float(np.float64(avgdl)))
    assert ax.score(np.array([tf]), np.array([b]), wa,
                    ax.norm_cache(avgdl))[0] == \
        np.float32(tfln * math.log(100.0 / 10.0))
    # Axiomatic F1EXP: (1+ln(1+ln(f))) · (avgdl+s)/(avgdl+dl·s) · idf^k
    a1 = SIMS["axiomatic"]("f1exp")
    w1a = a1.weight(10, 99)
    comp = ((1.0 + math.log(1.0 + math.log(tf)))
            * (float(np.float64(avgdl)) + 0.25)
            / (float(np.float64(avgdl)) + dl * 0.25))
    assert a1.score(np.array([tf]), np.array([b]), w1a,
                    a1.norm_cache(avgdl))[0] == \
        np.float32(comp * math.pow(100.0 / 10.0, 0.35))

    # Indri: ln((f + μ·ttf/T)/(dl + μ)) — negative, boost ignored
    ind = SIMS["indri_dirichlet"]()
    wi = ind.weight(10, 99, boost=7.0, ttf=30, sum_ttf=1000)
    want_i = np.float32(math.log((tf + 2000.0 * 30.0 / 1000.0)
                                 / (dl + 2000.0)))
    assert ind.score(np.array([tf]), np.array([b]), wi,
                     ind.norm_cache(avgdl))[0] == want_i
    assert want_i < 0 and not ind.nonnegative

    with pytest.raises(ValueError):
        SIMS["ib"]("bogus")
    with pytest.raises(ValueError):
        SIMS["axiomatic"]("f9")


def test_lm_phrase_raises(spark, searcher):
    from lucene_spark.functions.similarity import LMDirichletSimilarity
    s2 = Searcher(spark, searcher.index_dir,
                  similarity=LMDirichletSimilarity())
    with pytest.raises(NotImplementedError):
        s2.search(Q.Phrase(("parse", "scan")), k=5)


def test_filter_query_cache(spark, searcher, oracle):
    """LRUQueryCache role: a repeated filter query is cached after the
    second use; cached and uncached match sets are identical."""
    s2 = Searcher(spark, searcher.index_dir)
    q = Q.Term("flush")
    want = sorted(oracle.score(q).keys())
    first = sorted(r["doc_id"] for r in s2.matching_docs(q).collect())
    assert s2.cache_hits == 0
    second = sorted(r["doc_id"] for r in s2.matching_docs(q).collect())
    third = sorted(r["doc_id"] for r in s2.matching_docs(q).collect())
    assert s2.cache_hits >= 1          # third use served from cache
    assert first == second == third == want
    # uncached path still available and identical
    raw = sorted(r["doc_id"]
                 for r in s2.matching_docs(q, use_cache=False).collect())
    assert raw == want


def test_fuzzy_blended_scored_parity(searcher, oracle):
    """FuzzyQuery's default rewrite (TopTermsBlendedFreqScoringRewrite):
    blended df=max stats, per-term 1-ed/minlen boosts, SHOULD sum —
    rank- and score-identical engine vs oracle, and genuinely different
    from the constant-score rewrite."""
    q = Q.MultiTerm("fuzzy", "parse", edits=2, scored=True)
    got = [(r["doc_id"], r["score"])
           for r in searcher.search(q, k=10).collect()]
    want = oracle.top_k(q, k=10)
    assert got and [g[0] for g in got] == [w[0] for w in want]
    assert np.allclose([g[1] for g in got], [w[1] for w in want],
                       rtol=0, atol=0)
    const = searcher.search(Q.MultiTerm("fuzzy", "parse", edits=2),
                            k=10).collect()
    assert len({r["score"] for r in const}) == 1     # constant-score
    assert len({g[1] for g in got}) > 1              # blended: real scores


def test_high_freq_terms(searcher, oracle):
    """HighFreqTerms: top-N by df and by ttf vs the oracle's stats."""
    stats = [(t, oracle.df(t), oracle.ttf(t)) for t in oracle.postings]
    for by, idx in (("df", 1), ("ttf", 2)):
        want = sorted(stats, key=lambda s: (-s[idx], s[0]))[:15]
        got = [(r["term"], r["df"], r["ttf"])
               for r in searcher.high_freq_terms(15, by=by).collect()]
        assert got == want, by
    with pytest.raises(ValueError):
        searcher.high_freq_terms(5, by="bogus")


def test_regexp_query_parity(searcher, oracle):
    """RegexpQuery: anchored full-term regex, CONSTANT_SCORE rewrite —
    match set and scores vs the oracle's dictionary expansion."""
    q = Q.MultiTerm("regexp", "pa.+e|tok[a-z]n")
    got = {r["doc_id"]: r["score"]
           for r in searcher.score_all(q).collect()}
    want = {d: float(s) for d, s in oracle.score(q).items()}
    assert got == want and len(got) > 0


def test_common_terms_query_all_shapes(searcher, oracle):
    """CommonTermsQuery: both-group (ReqOptSum), low-only and high-only
    (conjunction guard) rewrites all match the oracle exactly."""
    cases = [
        Q.CommonTerms(("parse", "emit", "zzz_absent"), 0.5),  # mixed-ish
        Q.CommonTerms(("parse", "emit"), 0.05),   # likely both high
        Q.CommonTerms(("parse", "emit"), 1000),   # absolute thr: all low
        Q.CommonTerms(("parse", "token", "flush"), 0.2),
    ]
    for q in cases:
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in searcher.search(q, k=10).collect()]
        want = [(d, np.float32(s)) for d, s in oracle.top_k(q, k=10)]
        assert got == want, q


def test_query_rescorer_parity(searcher, oracle):
    """QueryRescorer.rescore (QueryRescorer.java:175-193): first-pass
    top-20, second-pass combine (float)(first + w * second) on match,
    (score DESC, doc ASC) order, truncate to 10 — vs a numpy brute
    twin over OracleIndex scores."""
    q1 = Q.Or((Q.Term("parse"), Q.Term("scan")))
    q2 = Q.Term("token")
    w = 2.5
    got = [(r["doc_id"], np.float32(r["score"]))
           for r in searcher.rescore(searcher.search(q1, k=20), q2,
                                     weight=w, topn=10).collect()]
    first = oracle.top_k(q1, k=20)
    second = oracle.score(q2)
    comb = []
    for d, s in first:
        if d in second:
            comb.append((d, np.float32(float(s) + w * float(second[d]))))
        else:
            comb.append((d, np.float32(s)))
    comb.sort(key=lambda t: (-float(t[1]), t[0]))
    assert got == comb[:10]
    # unmatched hits keep their first-pass float bit-exactly
    first_d = dict(first)
    for d, s in got:
        if d not in second:
            assert s == np.float32(first_d[d])


def test_payload_score_query(spark, tmp_path):
    """DelimitedPayloadTokenFilter build + PayloadScoreQuery: every token
    carries a |x.y float payload; min/max/sum/avg per-doc aggregation over
    the query term's positions matches a brute python recount; payloads
    survive a merge."""
    import numpy as np

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.merge import merge_segments
    from lucene_spark.sources.catalog import SnapshotCatalog

    rng = np.random.default_rng(17)
    vocab = ["alpha", "beta", "gamma", "delta"]
    docs, truth = [], {}
    for d in range(60):
        toks = [vocab[int(rng.integers(len(vocab)))]
                for _ in range(int(rng.integers(3, 12)))]
        pays = [float((d + i) % 7) / 2.0 for i in range(len(toks))]
        docs.append((d, " ".join(f"{t}|{p}" for t, p in zip(toks, pays))))
        truth[d] = [p for t, p in zip(toks, pays) if t == "beta"]
    idx = str(tmp_path / "pay")
    build_index(spark, spark.createDataFrame(docs, "doc_id long, content string"),
                idx, num_segments=3, payload_delimiter="|",
                tokenizer="whitespace")

    def check(searcher):
        for func, agg in [("sum", sum), ("max", max), ("min", min),
                          ("avg", lambda v: sum(v) / len(v))]:
            got = {r["doc_id"]: r["score"] for r in
                   searcher.score_all(Q.PayloadScore("beta", func))
                   .collect()}
            want = {d: np.float32(np.float32(1.0)
                                  * np.float32(float(agg(v))))
                    for d, v in truth.items() if v}
            assert got.keys() == want.keys(), func
            for d in want:
                assert np.float32(got[d]) == want[d], (func, d)

    check(Searcher(spark, idx))
    snap = SnapshotCatalog(idx).load()
    merge_segments(spark, idx, sorted(snap.seg_ids)[:2])
    check(Searcher(spark, idx))


def test_count_fast_path_matches_kernel(searcher, oracle):
    """Weight#count: single-term counts answer from the dictionary (no
    postings decode) and equal the kernel count and the oracle."""
    for t in ("parse", "flush", "zzz_absent"):
        assert searcher.count(Q.Term(t)) == len(oracle.score(Q.Term(t)))
    # non-term queries still route through the kernel
    q = Q.And((Q.Term("parse"), Q.Term("emit")))
    assert searcher.count(q) == len(oracle.score(q))


def test_sweetspot_scalar_semantics(spark, searcher, oracle):
    """SweetSpotSimilarity plateau + baseline/hyperbolic tf exactness vs
    scalar twins of SweetSpotSimilarity.java:103-173."""
    import math

    from lucene_spark.functions.similarity import SweetSpotSimilarity
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    sim = SweetSpotSimilarity(ln_min=3, ln_max=20, ln_steep=0.5,
                              tf_base=1.5, tf_min=3.0)
    tab = sim.norm_cache(np.float32(10.0))
    for b in range(1, 256):
        L = int(LENGTH_TABLE[b])
        inner = np.float32(np.float32(0.5) * np.float32(
            abs(L - 3) + abs(L - 20) - 17))
        want = np.float32(1.0 / math.sqrt(float(inner + np.float32(1.0))))
        assert tab[b] == want, b
        if 3 <= L <= 20:
            assert tab[b] == np.float32(1.0)       # the plateau
    # baseline tf: flat below tf_min, sqrt-shifted above
    w = np.float32(1.0)
    cache = sim.norm_cache(np.float32(1.0))
    got = sim.score(np.array([0, 1, 3, 4, 10]),
                    np.array([40] * 5), w, cache)
    L40 = int(LENGTH_TABLE[40])
    nrm = cache[40]
    exp = [0.0, 1.5, 1.5,
           np.float32(math.sqrt(4 + 1.5 * 1.5 - 3.0)),
           np.float32(math.sqrt(10 + 1.5 * 1.5 - 3.0))]
    for g, e in zip(got, exp):
        assert g == np.float32((np.float32(e) * w) * nrm)
    # hyperbolic: approaches max for big freq, min+half at xoffset
    hyp = SweetSpotSimilarity(tf_mode="hyperbolic",
                              hyper=(0.0, 2.0, 1.3, 10.0))
    s2 = hyp.score(np.array([10, 1000, 0]), np.array([40] * 3), w, cache)
    assert s2[0] == np.float32((np.float32(1.0) * w) * nrm)  # tanh(0)=0
    assert abs(float(s2[1]) / float(nrm) - 2.0) < 1e-5
    assert s2[2] == 0.0
    with pytest.raises(ValueError):
        SweetSpotSimilarity(tf_mode="bogus")


def test_repeat_sloppy_phrase(searcher, oracle):
    """Sloppy phrases WITH duplicate clause terms (the reference's
    repeats machinery): engine ≡ oracle, float32-exact, with matches."""
    cases = [
        Q.Phrase(("if", "if"), slop=3),
        Q.Phrase(("if", "return", "if"), slop=5),
        Q.Phrase(("return", "return"), slop=2),
        Q.Phrase(("if", "if"), slop=0, positions=(0, 3)),
    ]
    for q in cases:
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in searcher.search(q, k=10).collect()]
        want = [(d, np.float32(s)) for d, s in oracle.top_k(q, k=10)]
        assert len(want) > 0, q
        assert got == want, q


def test_span_payload_check(spark, tmp_path):
    """SpanPayloadCheckQuery: phrase positions must carry the given
    float payloads (None = any slot) — vs a brute doc scan."""
    import numpy as np

    from lucene_spark.operators.build import build_index

    docs = [
        (0, "a|1.0 b|2.0 a|3.0 b|2.0"),
        (1, "a|1.0 b|9.0 c|0.5"),
        (2, "b|2.0 a|1.0 b|2.0 a|1.0 b|2.0"),
        (3, "c|1.0 c|1.0"),
    ]
    d = str(tmp_path / "payck")
    build_index(spark, spark.createDataFrame(
        docs, "doc_id long, content string"), d, num_segments=2,
        payload_delimiter="|", tokenizer="whitespace",
        stopwords=frozenset())
    s = Searcher(spark, d)
    # a(payload 1.0) followed by b(payload 2.0)
    q = Q.SpanPayloadCheck(("a", "b"), (1.0, 2.0))
    got = {r["doc_id"]: r["score"] for r in s.search(q, k=10).collect()}
    # doc0: a|1.0@0 b|2.0@1 -> 1 match; doc1: b payload 9 -> none;
    # doc2: a|1.0@1 b|2.0@2 and a|1.0@3 b|2.0@4 -> 2 matches
    assert set(got) == {0, 2}
    # any-payload slot matches doc1 too (a@0 b@1 regardless of payload)
    q2 = Q.SpanPayloadCheck(("a", "b"), (1.0, None))
    got2 = {r["doc_id"] for r in s.search(q2, k=10).collect()}
    assert got2 == {0, 1, 2}
    # freq ordering: doc2 (2 matches) outscores doc0 — same norm lengths?
    # lengths differ; just assert scores positive and doc2 present
    assert all(v > 0 for v in got.values())
    import pytest as _pytest
    with _pytest.raises(ValueError):
        s.search(Q.SpanPayloadCheck(("a",), (1.0, 2.0)), k=5)


def test_fuzzy_like_this_parity(spark, searcher, oracle, corpus):
    """FuzzyLikeThisQuery (sandbox/queries/FuzzyLikeThisQuery.java):
    engine vs a per-doc replay of the reference rewrite — per-term fuzzy
    variants, boost²·ClassicSim.idf rescoring with the avg-df fallback,
    global top queue, then BM25 term scoring under ARTIFICIAL df=1."""
    import math

    from lucene_spark.functions import bm25
    from lucene_spark.functions.smallfloat import LENGTH_TABLE  # noqa: F401

    text = "parze scan"                     # one misspelled, one exact
    q = Q.FuzzyLikeThis(text, max_edits=1, prefix_len=1,
                        max_num_terms=50)
    got = [(r["doc_id"], r["score"])
           for r in searcher.search(q, k=10).collect()]

    # ---- replay the rewrite over the oracle's dictionary ----
    dfs = {t: oracle.df(t) for t in oracle.postings}
    N = oracle.doc_count

    def lev(a, b):
        la, lb = len(a), len(b)
        prev = list(range(la + 1))
        for j in range(1, lb + 1):
            cur = [j] + [0] * la
            for i in range(1, la + 1):
                cur[i] = min(cur[i - 1] + 1, prev[i] + 1,
                             prev[i - 1] + (a[i - 1] != b[j - 1]))
            prev = cur
        return prev[la]

    variants = []
    for src in dict.fromkeys(text.split()):
        cand = [(t, lev(t, src), d) for t, d in dfs.items()
                if abs(len(t) - len(src)) <= 1 and t.startswith(src[0])]
        cand = [(t, dd, d) for t, dd, d in cand if dd <= 1]
        if not cand:
            continue
        df_src = dfs.get(src, 0)
        if df_src == 0:
            df_src = sum(d for _, _, d in cand) // len(cand)
        idf = np.float32(math.log((N + 1) / (df_src + 1.0)) + 1.0)
        for t, dd, _ in cand:
            b = (np.float32(1.0) if dd == 0 else
                 np.float32(1.0) - np.float32(dd)
                 / np.float32(min(len(t), len(src))))
            variants.append((float(np.float32(np.float32(b * b) * idf)),
                             t))
    variants.sort(key=lambda p: (-p[0], p[1]))
    # per-doc sum of BM25 term scores under df=1 stats, f64 accumulate
    cache = oracle._cache(bm25.K1_DEFAULT, bm25.B_DEFAULT)
    idf1 = bm25.idf(1, N)
    acc: dict[int, float] = {}
    for st, t in variants[:50]:
        w = np.float32(np.float32(st) * idf1)
        for doc_id, tf, _ in oracle.postings.get(t, ()):
            inv = cache[oracle.norm_bytes[doc_id]]
            s = np.float32(w - w / (np.float32(1.0)
                                    + np.float32(tf) * inv))
            acc[doc_id] = acc.get(doc_id, 0.0) + float(s)
    want = sorted(((d, np.float32(s)) for d, s in acc.items()),
                  key=lambda p: (-float(p[1]), p[0]))[:10]
    assert [g[0] for g in got] == [w[0] for w in want]
    assert np.allclose([g[1] for g in got], [float(w[1]) for w in want],
                       rtol=0, atol=0)
    assert got                                # non-empty on this corpus


def test_indri_and_parity(spark, searcher, oracle):
    """IndriAndQuery (search/IndriAndQuery.java + IndriAndScorer
    .java:15-41): union match set, smoothing for absent clauses,
    boost-weighted mean — engine vs per-doc replay; absent terms drop
    from boostSum like the reference's null scorers."""
    import math

    from lucene_spark.functions.similarity import IndriDirichletSimilarity
    from lucene_spark.functions.smallfloat import LENGTH_TABLE
    sim = IndriDirichletSimilarity()
    s2 = Searcher(spark, searcher.index_dir, similarity=sim)
    N, sttf = oracle.doc_count, oracle.sum_ttf
    mu = 2000.0

    def replay(terms, boosts):
        trip = [(t, b) for t, b in zip(terms, boosts)
                if oracle.df(t) > 0]
        union = set()
        for t, _ in trip:
            union |= {d for d, _, _ in oracle.postings.get(t, ())}
        out = {}
        for d in union:
            dl = float(LENGTH_TABLE[oracle.norm_bytes[d]])
            tot = 0.0
            for t, b in trip:
                tf = dict((dd, f) for dd, f, _ in
                          oracle.postings.get(t, ())).get(d, 0)
                cp = oracle.ttf(t) / sttf
                s = np.float32(math.log((tf + mu * cp) / (dl + mu)))
                tot += float(s) * b
            out[d] = np.float32(tot / sum(b for _, b in trip))
        return sorted(out.items(), key=lambda p: (-float(p[1]), p[0]))[:10]

    for terms, boosts in [
        (("parse", "scan"), (1.0, 1.0)),
        (("parse", "codec", "util"), (1.0, 2.0, 0.5)),
        (("parse", "zzz_absent"), (1.0, 3.0)),     # null-scorer drop
    ]:
        q = Q.IndriAnd(terms, boosts)
        got = [(r["doc_id"], r["score"])
               for r in s2.search(q, k=10).collect()]
        want = replay(terms, boosts)
        assert [g[0] for g in got] == [w[0] for w in want], terms
        assert np.allclose([g[1] for g in got],
                           [float(w[1]) for w in want],
                           rtol=0, atol=0), terms
    # wrong similarity → the reference's IndriScorer requirement
    with pytest.raises(NotImplementedError):
        searcher.search(Q.IndriAnd(("parse",)), k=5)


def test_payloads_for_query(spark, tmp_path):
    """PayloadSpanUtil.getPayloadsForQuery (sandbox payloads/
    PayloadSpanUtil.java:44-140): term leaf = all occurrences' payloads;
    exact phrase = payloads of the constituent tokens inside each
    matching span; boolean clauses collect independently (union)."""
    import numpy as np

    from lucene_spark.operators.build import build_index

    rng = np.random.default_rng(23)
    vocab = ["alpha", "beta", "gamma", "delta"]
    docs, toks_of, pays_of = [], {}, {}
    for d in range(60):
        toks = [vocab[int(rng.integers(len(vocab)))]
                for _ in range(int(rng.integers(4, 14)))]
        pays = [float((d * 3 + i) % 5) / 2.0 for i in range(len(toks))]
        toks_of[d], pays_of[d] = toks, pays
        docs.append((d, " ".join(f"{t}|{p}" for t, p in zip(toks, pays))))
    idx = str(tmp_path / "payq")
    build_index(spark,
                spark.createDataFrame(docs, "doc_id long, content string"),
                idx, num_segments=3, payload_delimiter="|",
                tokenizer="whitespace")
    s = Searcher(spark, idx)

    def brute(specs):
        rows = set()
        for spec in specs:
            for d, toks in toks_of.items():
                if len(spec) == 1:
                    for i, t in enumerate(toks):
                        if t == spec[0]:
                            rows.add((d, t, i, np.float32(pays_of[d][i])))
                else:
                    for i in range(len(toks) - len(spec) + 1):
                        if tuple(toks[i:i + len(spec)]) == spec:
                            for j, t in enumerate(spec):
                                rows.add((d, t, i + j,
                                          np.float32(pays_of[d][i + j])))
        return rows

    def got_rows(q):
        return {(r["doc_id"], r["term"], r["pos"], np.float32(r["payload"]))
                for r in s.payloads_for_query(q).collect()}

    # term leaf
    assert got_rows(Q.Term("beta")) == brute([("beta",)])
    # exact phrase
    assert got_rows(Q.Phrase(("alpha", "beta"))) \
        == brute([("alpha", "beta")])
    # boolean: clauses collect independently; MUST_NOT skipped
    q = Q.Or((Q.Term("gamma"),
              Q.Not(Q.Phrase(("beta", "delta")), Q.Term("alpha"))))
    assert got_rows(q) == brute([("gamma",), ("beta", "delta")])
    # sloppy conversion out of scope
    import pytest as _pt
    with _pt.raises(NotImplementedError):
        s.payloads_for_query(Q.Phrase(("alpha", "beta"), slop=2))


def test_sloppy_multiphrase_parity(searcher, oracle):
    """MultiPhraseQuery WITH SLOP, including shared terms across
    columns (the reference's hasMultiTermRpts machinery,
    ``SloppyPhraseMatcher.java:286-466``): the engine's batched
    wave kernel (MTP collide init) vs the per-doc OracleIndex port
    (itself golden-pinned bit-exact against the compiled reference in
    test_multiphrase_repeat_goldens.py)."""
    cases = [
        # hidden-collision pair: {parse,emit} shares 'emit' with slot 2
        Q.MultiPhrase((("parse", "emit"), ("emit",)), slop=3),
        Q.MultiPhrase((("parse", "emit"), ("emit", "token")), slop=2),
        # repeats confined to single-term slots beside a multi-term one
        Q.MultiPhrase((("parse",), ("parse",), ("emit", "token")),
                      slop=4),
        # no repeats through the multi-term sloppy path
        Q.MultiPhrase((("parse", "scan"), ("emit", "token")), slop=3),
        # gapped builder positions
        Q.MultiPhrase((("parse", "emit"), ("emit",)), slop=4,
                      positions=(0, 2)),
        # three columns, transitive sharing
        Q.MultiPhrase((("parse", "emit"), ("emit", "token"),
                       ("token",)), slop=5),
    ]
    for q in cases:
        got = [(r["doc_id"], r["score"])
               for r in searcher.search(q, k=10).collect()]
        want = oracle.top_k(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0), q
    # slop=0 multiphrase is unchanged by the routing
    q0 = Q.MultiPhrase((("parse", "scan"), ("emit",)))
    qs = Q.MultiPhrase((("parse", "scan"), ("emit",)), slop=0)
    a = oracle.score(q0)
    bsc = oracle.score(qs)
    assert a.keys() == bsc.keys()
    # sloppy multiphrase is a superset of the exact one
    exact = set(oracle.score(q0))
    sloppy = set(oracle.score(
        Q.MultiPhrase((("parse", "scan"), ("emit",)), slop=3)))
    assert exact <= sloppy
