"""MemoryIndex (single-doc in-memory index, reference
``memory/.../MemoryIndex.java:78``): scoring parity with a 1-doc
engine-grade index, reader introspection, freeze, reset/reuse."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_spark.operators.memoryindex import MemoryIndex
from lucene_spark.oracle import OracleIndex
from lucene_spark.plans import query as Q
from lucene_spark.plans.parser import parse
from lucene_spark.sources.corpus import generate_corpus


def test_basic_match_and_score():
    mi = MemoryIndex().add_field("the quick brown fox jumps")
    assert mi.matches("quick")
    assert mi.matches("quick AND fox")
    assert not mi.matches("lazy")
    assert mi.search("lazy") == 0.0
    assert mi.search(Q.Phrase(("quick", "brown"))) > 0
    assert mi.search(Q.Phrase(("brown", "quick"))) == 0.0


def test_score_equals_one_doc_oracle():
    """MemoryIndex.search == OracleIndex.score over the identical
    single-doc collection stats (float32-exact by construction)."""
    text = "alpha beta alpha gamma delta alpha beta"
    mi = MemoryIndex().add_field(text)
    oracle = OracleIndex.build([(0, text)])
    for q in (Q.Term("alpha"), Q.Or((Q.Term("beta"), Q.Term("gamma"))),
              parse('"alpha beta"~2')):
        assert mi.search(q) == float(oracle.score(q).get(0, 0.0))


def test_add_field_position_gap():
    """Successive add_field calls concatenate with a position gap: a
    phrase cannot straddle the field boundary tokens' adjacency."""
    mi = MemoryIndex().add_field("end of first").add_field("second part")
    assert mi.matches(Q.Phrase(("end", "of", "first")))
    assert mi.matches(Q.Phrase(("second", "part")))
    assert mi.positions("second") == [3]


def test_reader_introspection_and_reset():
    mi = MemoryIndex().add_field("a b a c")
    assert mi.freq("a") == 2
    assert mi.positions("a") == [0, 2]
    assert mi.terms() == ["a", "b", "c"]
    mi.reset().add_field("x y")
    assert mi.terms() == ["x", "y"]
    assert mi.freq("a") == 0


def test_stopwords_and_stemmer_chain():
    mi = MemoryIndex(stopwords=frozenset({"the"}), stemmer="porter")
    mi.add_field("the running dogs")
    assert mi.matches("run")          # porter: running -> run
    assert not mi.matches(Q.Term("the"))  # stopped at index time
    assert mi.positions("dog") == [2]  # stop gap preserved


def test_search_matches_one_doc_index():
    corpus = generate_corpus(40, seed=61)
    queries = [
        Q.Term("parse"),
        parse("parse AND emit"),
        parse('"parse emit"~4'),
        Q.SpanNear(("parse", "emit"), slop=6, in_order=False),
        Q.Interval(("ordered", (("term", "parse"), ("term", "emit")))),
        Q.MultiTerm("prefix", "pars"),
    ]
    matched = 0
    for text in corpus.content:
        mi = MemoryIndex(str(text))
        ref = OracleIndex.build([(0, str(text))])
        for q in queries:
            got = mi.search(q)
            want = float(ref.score(q).get(0, 0.0))
            assert np.float32(got) == np.float32(want)
            matched += got > 0
    assert matched > 0


def test_doc_view_scores_like_its_own_index():
    """``MemorySegment.doc(i)`` scores doc ``i`` over the segment's
    postings with the doc's own one-doc stats: float32-equal to a
    one-doc ``OracleIndex`` and to ``MemoryIndex`` of the doc, also with
    a stopword and stemmer chain."""
    import pandas as pd

    from lucene_spark.operators.memoryindex import MemorySegment

    corpus = generate_corpus(40, seed=61)
    texts = [str(t) for t in corpus.content] + ["if if return"]
    queries = [
        Q.Term("parse"),
        parse("parse OR emit OR return"),
        parse("parse AND emit"),
        parse('"parse emit"~4'),
        Q.Phrase(("return", "return"), slop=2),
        Q.SpanNear(("parse", "emit"), slop=6, in_order=False),
        Q.Interval(("ordered", (("term", "parse"), ("term", "emit")))),
        Q.MultiTerm("prefix", "pars"),
        Q.MultiTerm("fuzzy", "parze", edits=2, scored=True),
        Q.MultiPhrase(((("prefix", "re"),), ("if",))),
    ]
    for chain in ({}, {"stopwords": frozenset({"if"}),
                       "stemmer": "porter"}):
        seg = MemorySegment(pd.DataFrame(
            {"doc_id": np.arange(len(texts)), "text": texts}), **chain)
        matched = 0
        for i, text in enumerate(texts):
            view = seg.doc(i)
            one = MemoryIndex(text, **chain)
            assert (view.doc_count, view.sum_ttf) == (
                1, one._segment().sum_ttf)
            ref = OracleIndex.build([(0, text)]) if not chain else None
            for q in queries:
                got = view.score(q)
                assert got == one.search(q), (i, q)
                if ref is not None:
                    assert np.float32(got) == np.float32(
                        ref.score(q).get(0, 0.0)), (i, q)
                matched += got > 0
        assert matched > 0


def test_single_doc_statistics():
    # idf comes from the ONE document: df = 1, N = 1 — exactly the
    # reference's ephemeral-index behavior
    mi = MemoryIndex("alpha beta alpha")
    s1 = mi.search(Q.Term("alpha"))
    s2 = mi.search(Q.Term("beta"))
    assert s1 > s2 > 0          # tf 2 vs tf 1, same idf
    assert mi.search(Q.Term("gamma")) == 0.0


def test_freeze_and_reset():
    mi = MemoryIndex("alpha beta")
    mi.freeze()
    with pytest.raises(ValueError):
        mi.add_field("x")
    mi.reset()
    assert mi.search(Q.Term("alpha")) == 0.0
    mi.add_field("gamma")
    assert mi.search(Q.Term("gamma")) > 0
