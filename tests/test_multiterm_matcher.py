"""One definition of what each multi-term kind matches.

``plans.query.term_matcher`` decides which terms a prefix, wildcard,
regexp, fuzzy or range query matches. ``Searcher.expand_terms`` applies it
to the term dictionary on the driver, and Monitor applies it to each
document's own terms. The oracle keeps an independent copy. Patterns here
hold the characters a SQL or glob pattern language would read as
operators (``_``, ``%``, ``[``, ``.``, ``\\``), non-ASCII text, an empty
prefix and open range ends; each must match as Lucene's PrefixQuery,
WildcardQuery and TermRangeQuery do.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lucene_spark.oracle import OracleIndex, _wildcard_match
from lucene_spark.operators.build import build_index
from lucene_spark.operators.search import MultiSearcher, Searcher
from lucene_spark.plans import query as Q
from lucene_spark.plans.flexible import parse_standard
from lucene_spark.plans.parser import parse
from lucene_spark.streaming.monitor import Monitor

DOCS = [
    (0, "foo_bar baz foo"),
    (1, "fooxbar qux"),
    (2, "foo%bar zip fooz"),
    (3, "café naïve über_ö cafe"),
    (4, "pi is 3.14 not 3x14"),
    (5, "f[a]b fab f_b"),
    (6, "a.b axb a_b"),
    (7, "x_y _lead trail_ 100%"),
    (8, "fooz foo zap"),
    (9, "日本語 テキスト naïve"),
]

PATTERNS = [
    ("prefix", "foo_"), ("prefix", "foo%"), ("prefix", "foo"),
    ("prefix", "f["), ("prefix", "a\\"), ("prefix", "3."),
    ("prefix", "caf"), ("prefix", "ü"), ("prefix", ""),
    ("wildcard", "foo_b*"), ("wildcard", "foo%b*"), ("wildcard", "f[a]b"),
    ("wildcard", "f[ab]b"), ("wildcard", "f[!x]b"), ("wildcard", "f?b"),
    ("wildcard", "a?b"), ("wildcard", "3\\.1*"), ("wildcard", "3?14"),
    ("wildcard", "foo\\_bar"), ("wildcard", "*_*"), ("wildcard", "*é"),
    ("wildcard", "caf\\"), ("wildcard", "x\\*y"), ("wildcard", "na?ve"),
    ("wildcard", "?"), ("wildcard", "*"),
    ("range", ("foo", None, True, True)),
    ("range", (None, "b", True, False)),
    ("range", ("a", "foo_bar", False, True)),
    ("range", (None, None, True, True)),
    ("range", ("caf", "naïve", True, False)),
]


def _bits(x) -> int:
    return int(np.float32(x).view(np.uint32))


def _frame(spark, docs):
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": [d for d, _ in docs], "content": [t for _, t in docs]}))


@pytest.fixture(scope="module")
def readers(spark, tmp_path_factory):
    """A Searcher over every doc, a MultiSearcher over two halves, and
    the oracle over every doc."""
    root = tmp_path_factory.mktemp("multiterm")
    build_index(spark, _frame(spark, DOCS), str(root / "all"),
                num_segments=2)
    for name, half in (("a", DOCS[:5]), ("b", DOCS[5:])):
        build_index(spark, _frame(spark, half), str(root / name),
                    num_segments=2)
    return (Searcher(spark, str(root / "all")),
            MultiSearcher(spark, [str(root / "a"), str(root / "b")]),
            OracleIndex.build(DOCS))


def _oracle_terms(oracle, kind, value):
    spans = oracle._resolve_span(Q.SpanMultiTermWrapper(Q.MultiTerm(kind,
                                                                    value)))
    return [t.term for t in spans.clauses]


@pytest.mark.parametrize("kind,value", PATTERNS)
def test_expansion_and_top_k_equal_the_oracle(readers, kind, value):
    searcher, multi, oracle = readers
    want_terms = _oracle_terms(oracle, kind, value)
    q = Q.MultiTerm(kind, value)
    want = [(d, _bits(s)) for d, s in oracle.top_k(q, 10)]
    for reader in (searcher, multi):
        assert reader.expand_terms(kind, value) == want_terms
        got = [(int(r["doc_id"]), _bits(r["score"]))
               for r in reader.search(q, k=10).collect()]
        assert got == want


def test_literal_operators_and_open_ends(readers):
    """The cases a SQL LIKE or glob reading gets wrong, spelled out."""
    searcher, multi, _ = readers
    for reader in (searcher, multi):
        assert reader.expand_terms("prefix", "foo_") == ["foo_bar"]
        assert reader.expand_terms("prefix", "foo%") == []
        assert reader.expand_terms("wildcard", "f[a]b") == []
        assert reader.expand_terms("wildcard", "foo\\_bar") == ["foo_bar"]
        vocab = reader.expand_terms("prefix", "")
        for text in ("[foo TO *]", "{* TO foo]"):
            for q in (parse(text), parse_standard(text)):
                assert None in q.value[:2]
                got = reader.expand_terms(*q.expansion)
                assert got and got == Q.term_matcher(*q.expansion)[1](vocab)
        assert reader.expand_terms("range", ("foo", None, True, True)) == \
            [t for t in vocab if t >= "foo"]
        assert reader.expand_terms("range", (None, "foo", True, False)) == \
            [t for t in vocab if t < "foo"]


def test_max_terms_keeps_the_first_terms_in_byte_order(readers):
    searcher, multi, _ = readers
    vocab = searcher.expand_terms("prefix", "")
    assert vocab == sorted(vocab, key=lambda t: t.encode("utf-8"))
    assert multi.expand_terms("prefix", "") == vocab
    assert searcher.expand_terms("prefix", "", max_terms=3) == vocab[:3]
    assert multi.expand_terms("wildcard", "*", max_terms=3) == vocab[:3]


@pytest.mark.parametrize("q", [
    Q.MultiPhrase(((("prefix", "foo"),), ("foo",)), slop=1),
    Q.MultiPhrase(((("prefix", "foo"),), ("foo",))),
    Q.MultiPhrase(((("wildcard", "foo?bar"),), ("foo",)), slop=2),
    Q.MultiPhrase(((("prefix", "foo"),), ("foo",)), positions=(0, 2)),
    Q.MultiPhrase((("baz",), (("prefix", "fo"), "zap")), slop=1),
])
def test_multiphrase_slots_keep_slop_and_positions(readers, q):
    """Prefix and wildcard slot entries expand in place; the phrase keeps
    its slop and builder positions."""
    searcher, multi, oracle = readers
    want = [(d, _bits(s)) for d, s in oracle.top_k(q, 10)]
    assert want
    for reader in (searcher, multi):
        got = [(int(r["doc_id"]), _bits(r["score"]))
               for r in reader.search(q, k=10).collect()]
        assert got == want


def test_multiphrase_slot_kinds_are_prefix_and_wildcard(readers):
    searcher, _, oracle = readers
    q = Q.MultiPhrase(((("fuzzy", ("foo", 1)),), ("baz",)))
    with pytest.raises(ValueError):
        oracle.top_k(q, 10)
    with pytest.raises(ValueError):
        searcher.search(q, k=10)


def test_percolation_equals_the_oracle(spark, readers):
    """Monitor matches each document against its own terms with the same
    matcher; its match pairs equal the oracle's."""
    _, _, oracle = readers
    queries = {f"q{i}": Q.MultiTerm(kind, value)
               for i, (kind, value) in enumerate(PATTERNS)}
    queries["open"] = parse("[foo TO *]")
    queries["fuzzy"] = Q.MultiTerm("fuzzy", "naive", edits=1)
    queries["regexp"] = Q.MultiTerm("regexp", "f.?o.*")
    docs = _frame(spark, DOCS).selectExpr("doc_id", "content AS text")
    got = {(int(r["doc_id"]), r["query_id"])
           for r in Monitor(queries).match_batch(docs).collect()}
    want = {(d, qid) for qid, q in queries.items() for d in oracle.score(q)}
    assert got == want
    assert {q for _, q in got} >= {"open", "fuzzy", "regexp"}


def test_wildcard_matchers_agree_on_operator_characters():
    """The engine's matcher and the oracle's own NFA agree on terms that
    hold the characters no analyzer above keeps."""
    terms = ["foo_bar", "fooxbar", "foo%bar", "a\\b", "a.b", "axb", "ab",
             "f[a]b", "fab", "a*b", "a?b", "*", "?", "\\", "", "café",
             "abc\n", "\U0010ffff", "a\U0010ffffb"]
    patterns = ["foo_b*", "foo%b*", "f[a]b", "f[ab]b", "a\\b", "a\\\\b",
                "a.b", "a?b", "*", "?", "\\*", "\\?", "a\\*b", "caf?", "*é",
                "", "\\", "a\\", "**a*b**", "a?*c?", "*\\\\*"]
    for p in patterns:
        bounds, select = Q.term_matcher("wildcard", p)
        for t in terms:
            assert bool(select([t])) == _wildcard_match(p, t), (p, t)
            if select([t]):
                assert all({">=": t >= b, "<": t < b}[op]
                           for op, b in bounds), (p, t)


def test_prefix_bounds_hold_every_match():
    """The pushed byte range of a prefix covers every term with it, also
    after the highest code point and below the surrogates."""
    for p, t in (("a\U0010ffff", "a\U0010ffffz"), ("퟿", "퟿z"),
                 ("\U0010ffff", "\U0010ffff\U0010ffff"), ("ab", "ab")):
        bounds, select = Q.term_matcher("prefix", p)
        assert select([t]) == [t]
        assert all({">=": t >= b, "<": t < b}[op] for op, b in bounds)
        for _, b in bounds:
            b.encode("utf-8")


def test_edit_distances_equal_the_oracle_under_the_bound():
    """The DP over many terms at once, with its length band and early
    exit, gives the oracle's distance wherever it is within the bound."""
    from lucene_spark.oracle import _levenshtein
    rng = np.random.default_rng(3)
    alphabet = list("abc") + ["\x00", "é", "\U0010ffff"]
    for _ in range(300):
        b = "".join(rng.choice(alphabet, rng.integers(0, 7)))
        terms = ["".join(rng.choice(alphabet, rng.integers(0, 9)))
                 for _ in range(int(rng.integers(0, 12)))]
        k = int(rng.integers(0, 4))
        got = Q.edit_distances(terms, b, k)
        want = [min(_levenshtein(t, b), k + 1) for t in terms]
        assert got.tolist() == want, (terms, b, k)


def test_regexp_dialect_is_python_not_lucene():
    """Regexps are Python ``re`` patterns matched against the whole term.
    Lucene's ``RegExp`` operators are plain characters here: ``<1-10>``
    (numeric interval), ``@`` (any string), ``#`` (empty language), ``&``
    (intersection) and ``~`` (complement)."""
    def matches(pattern, term):
        return bool(Q.term_matcher("regexp", pattern)[1]([term]))

    assert matches("qu.*y", "query") and not matches("qu.*y", "queryx")
    assert not matches("<1-10>", "5") and matches("<1-10>", "<1-10>")
    assert not matches("@", "abc") and matches("@", "@")
    assert matches("#", "#")
    assert not matches("a.*&.*b", "axb") and matches("a.*&.*b", "a&b")
    assert not matches("~a", "b") and matches("~a", "~a")


def _expand_and_search(reader):
    return [
        ("prefix", lambda: reader.search(Q.MultiTerm("prefix", "foo"),
                                         k=10).collect()),
        ("wildcard", lambda: reader.search(Q.MultiTerm("wildcard", "f?b"),
                                           k=10).collect()),
        ("range", lambda: reader.search(parse("[foo TO *]"),
                                        k=10).collect()),
        ("regexp", lambda: reader.search(Q.MultiTerm("regexp", "fo+.*"),
                                         k=10).collect()),
        ("fuzzy", lambda: reader.search(
            Q.MultiTerm("fuzzy", "fooz", edits=1, scored=True),
            k=10).collect()),
        ("flt", lambda: reader.search(Q.FuzzyLikeThis("fooz naive"),
                                      k=10).collect()),
    ]


def test_expansion_runs_no_job_and_a_search_one(spark_jobs, readers):
    searcher, multi, _ = readers
    for i, reader in enumerate((searcher, multi)):
        for kind, value in PATTERNS + [("regexp", "fo+.*"),
                                       ("fuzzy", ("fooz", 1))]:
            _, jobs = spark_jobs(f"expand-{i}-{kind}",
                                 lambda: reader.expand_terms(kind, value))
            assert jobs == [], (kind, value)
        for name, run in _expand_and_search(reader):
            rows, jobs = spark_jobs(f"multiterm-search-{i}-{name}", run)
            assert rows and len(jobs) == 1, name
