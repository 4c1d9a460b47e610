"""Monitor (reverse search / percolation) tests: match sets must equal
the oracle index's match sets for every registered query."""

from __future__ import annotations

import tempfile

import pytest

from lucene_spark.oracle import OracleIndex
from lucene_spark.plans import query as Q
from lucene_spark.sources.corpus import generate_corpus
from lucene_spark.streaming.monitor import Monitor

QUERIES = {
    "q_term": "parse",
    "q_and": "codec AND util",
    "q_or": "parse OR scan",
    "q_not": "parse -codec",
    "q_phrase": '"mixed case"',
    "q_prefix": "par*",
    "q_msm": Q.Or((Q.Term("parse"), Q.Term("scan"), Q.Term("codec")),
                  min_should_match=2),
    "q_fuzzy": Q.MultiTerm("fuzzy", "parze", edits=1),
    "q_regexp": Q.MultiTerm("regexp", "pa.+e|tok[a-z]n"),
    "q_sloppy3": Q.Phrase(("if", "return", "token"), slop=6),
    "q_rep_sloppy": Q.Phrase(("return", "return"), slop=2),
    "q_span": Q.SpanNear(("token", "yield"), slop=6, in_order=False),
    "q_spannot": Q.SpanNot(Q.SpanNear(("token", "yield"), slop=8,
                                      in_order=False), Q.Term("if")),
    "q_spanfirst": Q.SpanFirst(Q.Term("parse"), 15),
    "q_multiphrase": Q.MultiPhrase((("token", "self"), ("if",))),
    "q_mp_prefix": Q.MultiPhrase(((("prefix", "re"),), ("if",))),
    "q_interval": Q.Interval(("maxgaps", ("ordered", (
        ("term", "if"), ("term", "return"))), 3)),
    "q_interval_mt": Q.Interval(("ordered", (("prefix", "lit"),
                                             ("term", "yield")))),
    "q_atleast": Q.Interval(("atleast", 2, (
        ("term", "if"), ("term", "return"), ("term", "value")))),
}


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(200, seed=37)


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))


def test_every_query_matches_a_doc(oracle):
    """A query that matches nothing cannot show a lost match."""
    from lucene_spark.plans.parser import parse
    for qid, q in QUERIES.items():
        node = parse(q) if isinstance(q, str) else q
        assert oracle.score(node), qid


def _expected(oracle):
    want = set()
    for qid, q in QUERIES.items():
        from lucene_spark.plans.parser import parse
        node = parse(q) if isinstance(q, str) else q
        for d in oracle.score(node).keys():
            want.add((d, qid))
    return want


def test_match_batch_equals_oracle_match_sets(spark, corpus, oracle):
    docs = spark.createDataFrame(corpus) \
        .selectExpr("doc_id", "content AS text")
    mon = Monitor(QUERIES)
    got = {(int(r["doc_id"]), r["query_id"])
           for r in mon.match_batch(docs).collect()}
    assert got == _expected(oracle)
    assert any(q == "q_phrase" for _, q in got)  # phrase queries exercise


def test_presearcher_prunes_without_changing_matches(spark, corpus,
                                                     oracle):
    """TermFilteredPresearcher role: the query-term inverted map must not
    change the match set, and must actually prune (anchored queries are
    only evaluated against batches whose vocabulary holds an anchor
    term)."""
    docs = spark.createDataFrame(corpus) \
        .selectExpr("doc_id", "content AS text")
    big_set = dict(QUERIES)
    # pad with queries whose anchor terms are absent from the corpus —
    # with presearch these cost nothing per batch
    for i in range(200):
        big_set[f"q_pad{i}"] = Q.And((Q.Term(f"zzz{i}"), Q.Term("parse")))
    mon_on = Monitor(big_set)
    got_on = {(int(r["doc_id"]), r["query_id"])
              for r in mon_on.match_batch(docs).collect()}
    assert got_on == _expected(oracle)
    # the pad queries anchor on their absent zzz term (smallest AND-child
    # anchor), so the term map holds them and `always` stays small
    # only dictionary-dependent queries (multiterm leaves) un-anchorable
    assert sorted(mon_on.always) == ["q_fuzzy", "q_interval_mt",
                                     "q_prefix", "q_regexp"]
    assert all(f"q_pad{i}" in mon_on.term_map[f"zzz{i}"]
               for i in range(0, 200, 50))


def test_match_set_does_not_depend_on_batching(spark, corpus):
    """One Arrow batch or many give the same pairs, and they equal each
    document's own one-doc oracle. A batch's multi-term expansion is not
    capped: one batch holds 676 terms of the prefix ``pre`` (above the
    512-term maxClauseCount) and 676 within two edits of ``mango`` (above
    fuzzy's 50 maxExpansions)."""
    import string

    from lucene_spark.plans.parser import parse

    letters = string.ascii_lowercase
    extra = [(10_000 + i, f"pre{i:04d} ma{letters[i % 26]}"
              f"{letters[i // 26 % 26]}o parse") for i in range(676)]
    docs_pd = list(zip(corpus.doc_id, corpus.content)) + extra
    queries = {qid: parse(q) if isinstance(q, str) else q
               for qid, q in QUERIES.items()}
    queries.update({
        "q_pre": Q.MultiTerm("prefix", "pre"),
        "q_mango": Q.MultiTerm("fuzzy", "mango", edits=2),
        "q_mango_scored": Q.MultiTerm("fuzzy", "mango", edits=2,
                                      scored=True),
        "q_pre_span": Q.SpanNear((Q.SpanMultiTermWrapper(
            Q.MultiTerm("prefix", "pre")), "parse"), slop=2),
    })
    want = {(int(d), qid) for d, text in docs_pd
            for qid, q in queries.items()
            if OracleIndex.build([(d, str(text))]).score(q)}
    assert sum(q == "q_pre" for _, q in want) == 676
    assert sum(q == "q_mango_scored" for _, q in want) == 676
    docs = spark.createDataFrame(docs_pd, "doc_id long, text string")
    mon = Monitor(queries)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    got = {}
    try:
        for name, frame, per_batch in (("one", docs.coalesce(1), 10_000),
                                       ("many", docs.repartition(3), 37)):
            spark.conf.set(conf, str(per_batch))
            got[name] = {(int(r["doc_id"]), r["query_id"])
                         for r in mon.match_batch(frame).collect()}
    finally:
        spark.conf.unset(conf)
    assert got["one"] == got["many"] == want


def test_stats_dependent_queries_are_refused():
    """CommonTerms and FuzzyLikeThis choose terms by collection stats, so
    their match set would depend on the batch: registration refuses
    them, also nested."""
    for q in (Q.CommonTerms(("parse", "scan")), Q.FuzzyLikeThis("parze"),
              Q.Or((Q.Term("parse"), Q.CommonTerms(("scan",))))):
        with pytest.raises(TypeError):
            Monitor({"q": q})
        mon = Monitor({"ok": "parse"})
        with pytest.raises(TypeError):
            mon.register("q", q)
        assert list(mon.queries) == ["ok"]


def test_monitor_stream(spark, corpus, oracle):
    docs = spark.createDataFrame(corpus) \
        .selectExpr("doc_id", "content AS text")
    src = tempfile.mkdtemp(prefix="mon_src_")
    out = tempfile.mkdtemp(prefix="mon_out_")
    ckpt = tempfile.mkdtemp(prefix="mon_ckpt_")
    docs.coalesce(2).write.mode("append").parquet(src)
    stream = spark.readStream.schema(docs.schema) \
        .option("maxFilesPerTrigger", "1").parquet(src)
    q = Monitor(QUERIES).start(stream, out, checkpoint_dir=ckpt)
    q.awaitTermination(120)
    got = {(int(r["doc_id"]), r["query_id"])
           for r in spark.read.parquet(out).collect()}
    assert got == _expected(oracle)


def test_scoring_matches(spark, corpus, oracle):
    """ScoringMatch matcher (monitor/ScoringMatch.java:30-48): matches
    carry the score against the document's OWN single-doc index (N=1,
    df=1, avgdl = doc length) — verified by hand BM25 for a term query
    and by single-doc-oracle recomputation for the rest."""
    import math

    import numpy as np

    from lucene_spark.functions.analysis import analyze_text
    from lucene_spark.functions.bm25 import idf, norm_inverse_cache
    from lucene_spark.functions.smallfloat import int_to_byte4

    docs = spark.createDataFrame(corpus) \
        .selectExpr("doc_id", "content AS text")
    mon = Monitor({"q_term": "parse", "q_or": "parse OR scan"})
    rows = mon.match_batch(docs, scoring=True).collect()
    assert {r["query_id"] for r in rows} <= {"q_term", "q_or"}
    texts = dict(zip(corpus.doc_id, corpus.content))
    got = {(int(r["doc_id"]), r["query_id"]): r["score"] for r in rows}
    assert len(got) > 0
    # hand BM25 with single-doc stats for q_term
    for (d, qid), sc in list(got.items())[:40]:
        if qid != "q_term":
            continue
        terms, _, length = analyze_text(texts[d])
        tf = sum(1 for t in terms if t == "parse")
        assert tf > 0
        w = idf(1, 1)                      # df=1, N=1
        cache = norm_inverse_cache(np.float32(float(length)), 1.2, 0.75)
        nb = int(int_to_byte4(np.array([length]))[0])
        want = np.float32(w - w / (np.float32(1.0)
                                   + np.float32(tf) * cache[nb]))
        assert np.float32(sc) == want, d
    # boolean match set unchanged by scoring mode
    plain = {(int(r["doc_id"]), r["query_id"])
             for r in mon.match_batch(docs).collect()}
    assert set(got) == plain


def test_scoring_equals_one_doc_oracle(spark, corpus):
    """ScoringMatch over every query shape of ``QUERIES``: a match's
    score is float32-equal to the document's own one-doc oracle, and a
    pair is reported exactly when that score is positive."""
    import numpy as np

    from lucene_spark.plans.parser import parse

    docs = spark.createDataFrame(corpus) \
        .selectExpr("doc_id", "content AS text")
    got = {(int(r["doc_id"]), r["query_id"]): r["score"]
           for r in Monitor(QUERIES).match_batch(
               docs, scoring=True).collect()}
    want = {}
    for d, text in zip(corpus.doc_id, corpus.content):
        one = OracleIndex.build([(int(d), str(text))])
        for qid, q in QUERIES.items():
            sc = one.score(parse(q) if isinstance(q, str) else q)
            if sc.get(int(d), 0.0) > 0:
                want[(int(d), qid)] = np.float32(sc[int(d)])
    assert got.keys() == want.keys()
    assert all(np.float32(got[k]) == want[k] for k in want)
    assert {q for _, q in want} >= {"q_phrase", "q_rep_sloppy", "q_fuzzy",
                                    "q_spanfirst", "q_mp_prefix",
                                    "q_interval"}


def test_highlights_matches(spark, corpus, oracle):
    """HighlightsMatch matcher role (monitor/HighlightsMatch.java:36):
    matches carry the positions of the query's positive terms in the
    doc (term-level subset) — verified against the analyzed stream."""
    from lucene_spark.functions.analysis import analyze_text

    docs = spark.createDataFrame(corpus) \
        .selectExpr("doc_id", "content AS text")
    mon = Monitor({"q_term": "parse", "q_pref": "par*",
                   "q_not": "parse -codec"})
    rows = mon.match_batch(docs, highlights=True).collect()
    assert len(rows) > 0
    texts = dict(zip(corpus.doc_id, corpus.content))
    for r in rows[:60]:
        terms, poss, _ = analyze_text(texts[r["doc_id"]])
        if r["query_id"] == "q_term":
            want = sorted(p for t, p in zip(terms, poss) if t == "parse")
        elif r["query_id"] == "q_pref":
            want = sorted(p for t, p in zip(terms, poss)
                          if t.startswith("par"))
        else:   # negative side must NOT be highlighted
            want = sorted(p for t, p in zip(terms, poss) if t == "parse")
        assert list(r["hits"]) == want, (r["doc_id"], r["query_id"])
    # match set invariant under highlight mode
    plain = {(int(r["doc_id"]), r["query_id"])
             for r in mon.match_batch(docs).collect()}
    assert {(int(r["doc_id"]), r["query_id"]) for r in rows} == plain


def test_highlights_expand_multiphrase_slots(spark, corpus):
    """A prefix slot of a MultiPhrase highlights the batch terms it
    expands to, beside the slot's plain terms."""
    from lucene_spark.functions.analysis import analyze_text

    docs = spark.createDataFrame(corpus) \
        .selectExpr("doc_id", "content AS text")
    mon = Monitor({"q": QUERIES["q_mp_prefix"]})
    rows = mon.match_batch(docs, highlights=True).collect()
    assert len(rows) > 0
    texts = dict(zip(corpus.doc_id, corpus.content))
    for r in rows:
        terms, poss, _ = analyze_text(texts[r["doc_id"]])
        assert list(r["hits"]) == sorted(
            p for t, p in zip(terms, poss)
            if t.startswith("re") or t == "if"), r["doc_id"]


def test_monitor_query_lifecycle(spark, corpus, oracle):
    """Monitor register/update/delete (Monitor.java lifecycle): match
    sets track the live query set; presearcher map stays consistent."""
    docs = spark.createDataFrame(corpus) \
        .selectExpr("doc_id", "content AS text")
    mon = Monitor({"q1": "parse"})
    base = {(int(r["doc_id"]), r["query_id"])
            for r in mon.match_batch(docs).collect()}
    assert base == {(d, "q1") for d in oracle.score(Q.Term("parse"))}
    # register a second query
    mon.register("q2", "scan")
    got = {(int(r["doc_id"]), r["query_id"])
           for r in mon.match_batch(docs).collect()}
    assert got == base | {(d, "q2") for d in oracle.score(Q.Term("scan"))}
    # update q1 in place
    mon.register("q1", "flush")
    got = {(int(r["doc_id"]), r["query_id"])
           for r in mon.match_batch(docs).collect()}
    assert {(d, q) for d, q in got if q == "q1"} == \
        {(d, "q1") for d in oracle.score(Q.Term("flush"))}
    # delete; unknown delete is a no-op
    mon.delete("q2")
    mon.delete("nope")
    got = {r["query_id"] for r in mon.match_batch(docs).collect()}
    assert got == {"q1"}
    # presearcher map holds no stale entries
    assert all("q2" not in v for v in mon.term_map.values())
    # un-anchorable register lands in `always` and still matches
    mon.register("q3", Q.MultiTerm("prefix", "par"))
    assert "q3" in mon.always
    got = {r["query_id"] for r in mon.match_batch(docs).collect()}
    assert "q3" in got
