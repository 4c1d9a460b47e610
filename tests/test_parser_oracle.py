"""Parser unit tests + oracle sanity (self-consistency + BM25 hand checks)."""

import math

import numpy as np
import pytest

from lucene_spark.oracle import OracleIndex
from lucene_spark.plans.parser import QueryParseError, parse
from lucene_spark.plans.query import And, Not, Or, Phrase, Term, rewrite_fixed_point


def test_parse_term():
    assert parse("Foo") == Term("foo")


def test_parse_and_or():
    assert parse("a AND b") == And((Term("a"), Term("b")))
    assert parse("a OR b OR c") == Or((Term("a"), Term("b"), Term("c")))
    assert parse("a b") == Or((Term("a"), Term("b")))  # default OR


def test_parse_not():
    q = parse("a AND NOT b")
    assert q == Not(Term("a"), Term("b"))
    q2 = parse("a -b")
    assert q2 == Not(Term("a"), Term("b"))


def test_parse_phrase():
    assert parse('"hello World"') == Phrase(("hello", "world"))


def test_one_word_phrase_slop_is_dropped():
    """A one-word quoted phrase is a term query; its ``~N`` slop is
    consumed with it, not parsed as a term of its own, in both parsers."""
    from lucene_spark.plans.flexible import parse_standard
    for p in (parse, parse_standard):
        assert p('"alpha"~2') == Term("alpha")
        assert p('"alpha"~2 beta') == Or((Term("alpha"), Term("beta")))
        assert p('"alpha beta"~2') == Phrase(("alpha", "beta"), 2)


def test_phrase_slop_comes_before_boost():
    """``"a b"~N^B`` is one phrase with slop N, never a phrase and a term
    ``N``; a phrase has no boost, so one other than 1 is refused rather
    than dropped, and a one-word phrase takes it as a term boost. An
    unquoted atom that analyzes to several words is a phrase too."""
    from lucene_spark.plans.flexible import parse_standard
    for p in (parse, parse_standard):
        assert p('"alpha beta"~1^1') == Phrase(("alpha", "beta"), 1)
        assert p('"alpha beta"^1.0 gamma') == Or((Phrase(("alpha", "beta")),
                                                 Term("gamma")))
        assert p('"alpha"~3^2') == Term("alpha", 2.0)
        assert p('"alpha"^2 beta') == Or((Term("alpha", 2.0), Term("beta")))
        assert p("alpha-beta^1") == Phrase(("alpha", "beta"))
        assert p("alpha-beta^1.0 gamma") == Or((Phrase(("alpha", "beta")),
                                               Term("gamma")))
        for text in ('"alpha beta"~1^2', '"alpha beta"^2',
                     'gamma "alpha beta"^0.5', "alpha-beta^2",
                     "gamma alpha-beta^0.5"):
            with pytest.raises(QueryParseError, match="no boost"):
                p(text)


def test_parse_parens():
    q = parse("(a OR b) AND c")
    assert q == And((Or((Term("a"), Term("b"))), Term("c")))


def test_parse_field_prefix_and_boost():
    assert parse("content:foo^2") == Term("foo", 2.0)


def test_parse_errors():
    with pytest.raises(QueryParseError):
        parse("")
    with pytest.raises(QueryParseError):
        parse("(a OR b")
    with pytest.raises(QueryParseError):
        parse("-onlynegative")


def test_rewrite_collapses():
    q = Or((Or((Term("a"), Term("b"))), Term("a")))
    assert rewrite_fixed_point(q) == Or((Term("a"), Term("b")))
    assert rewrite_fixed_point(And((Term("a"), Term("a")))) == Term("a")


# ---------------------------------------------------------------------------
# Oracle hand-checks (BM25 k1=1.2, b=0.75 textbook values, float32)
# ---------------------------------------------------------------------------

def test_oracle_single_doc_score():
    idx = OracleIndex.build([(0, "apple banana apple")])
    # df=1, N=1: idf = log(1 + (1-1+0.5)/(1+0.5)) = log(4/3)
    # len=3 (<24 so exact norm), avgdl=3 → cache = 1/(1.2*((0.25)+0.75*3/3))
    idf = np.float32(math.log(1 + 0.5 / 1.5))
    inv = np.float32(1.0) / (np.float32(1.2) * (
        (np.float32(1.0) - np.float32(0.75))
        + np.float32(0.75) * np.float32(3.0) / np.float32(3.0)))
    want = np.float32(idf - idf / (np.float32(1.0) + np.float32(2.0) * inv))
    got = idx.top_k(Term("apple"), 10)
    assert got[0][0] == 0
    assert got[0][1] == pytest.approx(float(want), abs=0.0)


def test_oracle_tie_break_doc_id_asc():
    # identical docs → identical scores → doc_id ascending
    docs = [(i, "same tokens here") for i in range(5)]
    idx = OracleIndex.build(docs)
    top = idx.top_k(Term("tokens"), 3)
    assert [d for d, _ in top] == [0, 1, 2]
    assert len({s for _, s in top}) == 1


def test_oracle_boolean_and_not():
    idx = OracleIndex.build([
        (0, "apple banana"), (1, "apple cherry"), (2, "banana cherry")])
    and_hits = {d for d, _ in idx.top_k(And((Term("apple"), Term("banana"))), 10)}
    assert and_hits == {0}
    or_hits = {d for d, _ in idx.top_k(Or((Term("apple"), Term("banana"))), 10)}
    assert or_hits == {0, 1, 2}
    not_hits = {d for d, _ in idx.top_k(Not(Term("apple"), Term("banana")), 10)}
    assert not_hits == {1}


def test_oracle_or_score_is_sum():
    idx = OracleIndex.build([(0, "apple banana"), (1, "apple cherry")])
    s_or = dict(idx.top_k(Or((Term("apple"), Term("banana"))), 10))
    s_a = dict(idx.top_k(Term("apple"), 10))
    s_b = dict(idx.top_k(Term("banana"), 10))
    assert s_or[0] == pytest.approx(float(np.float32(s_a[0] + s_b[0])), rel=1e-7)


def test_oracle_phrase():
    idx = OracleIndex.build([
        (0, "quick brown fox"), (1, "brown quick fox"), (2, "quick brown cow")])
    hits = {d for d, _ in idx.top_k(Phrase(("quick", "brown")), 10)}
    assert hits == {0, 2}
    # phrase across stopword gap must NOT match as consecutive
    idx2 = OracleIndex.build([(0, "quick the brown")],
                             stopwords=frozenset({"the"}))
    assert idx2.top_k(Phrase(("quick", "brown")), 10) == []


# --- QueryAutoStopWordAnalyzer support: stopped clauses drop silently ------
def test_stopword_only_clause_dropped_from_boolean():
    # classic QueryParser: a clause that analyzes to nothing is skipped
    # (QueryParserBase.getFieldQuery -> null), not an error
    from lucene_spark.plans import query as Q
    from lucene_spark.plans.parser import QueryParseError, parse
    stop = frozenset({"the", "a"})
    assert parse("the OR dup", stopwords=stop) == Q.Term("dup")
    assert parse("dup AND the", stopwords=stop) == Q.Term("dup")
    assert parse('"the a" dup', stopwords=stop) == Q.Term("dup")
    assert parse("NOT the dup", stopwords=stop) == Q.Term("dup")
    assert parse("-the dup", stopwords=stop) == Q.Term("dup")
    assert parse("(the) OR (dup scan)", stopwords=stop) == Q.Or(
        (Q.Term("dup"), Q.Term("scan")))
    import pytest as _pytest
    with _pytest.raises(QueryParseError):
        parse("the a", stopwords=stop)  # everything stopped away
