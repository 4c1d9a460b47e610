"""SpanNearQuery tests: matcher goldens + engine-vs-oracle parity."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest

from lucene_spark.functions.spans import span_near_freq
from lucene_spark.operators.build import build_index
from lucene_spark.operators.search import Searcher
from lucene_spark.oracle import OracleIndex
from lucene_spark.plans import query as Q
from lucene_spark.sources.corpus import generate_corpus


def _pl(*lists):
    return [np.asarray(x, dtype=np.int64) for x in lists]


def test_matcher_ordered():
    # "a b a b": two ordered (a,b) chains at distance 1
    assert span_near_freq(_pl([0, 2], [1, 3]), 0, True) == 2.0
    # reversed order only: no ordered match
    assert span_near_freq(_pl([5], [1]), 10, True) == 0.0
    # wide gap: matchLength 3 -> 1/(1+3) with slop >= 3, else 0
    assert span_near_freq(_pl([0], [4]), 3, True) == pytest.approx(0.25)
    assert span_near_freq(_pl([0], [4]), 2, True) == 0.0
    # 3-term ordered chain a..b..c width 5 -> ml 2
    assert span_near_freq(_pl([0], [2], [4]), 2, True) == pytest.approx(1 / 3)
    # every sub[0] start is a candidate (NearSpansOrdered emits per
    # first-clause position): 0 -> width 3 fails slop 0, 3 -> width 0
    assert span_near_freq(_pl([0, 3], [4]), 0, True) == 1.0


def test_matcher_unordered():
    """Exact NearSpansUnordered event-walk semantics: each pq state up
    to the first clause-final element emits (minStart, RUNNING maxEnd)
    with width = maxEnd - minStart when maxEnd - minStart - n <= slop."""
    # out-of-order pair: one state (e=1, next a = 5) -> width 5
    assert span_near_freq(_pl([5], [1]), 10, False) == pytest.approx(
        np.float32(1.0 / (1.0 + 5)))
    # "a b a b": states at 0, 1, 2 (cutoff = min(max a, max b) = 2),
    # each width 2 -> three 1/3 contributions, f32-accumulated
    acc = np.float32(0.0)
    for _ in range(3):
        acc = np.float32(np.float64(acc) + 1.0 / 3.0)
    assert span_near_freq(_pl([0, 2], [1, 3]), 0, False) == float(acc)
    # slop gates each state by its own width: only e=0 (width 2) passes
    assert span_near_freq(_pl([0, 9], [1, 5]), 0, False) == pytest.approx(
        np.float32(1.0 / 3.0))


def test_span_algebra_kernels():
    from lucene_spark.functions.spans import (eval_span_tree, first_spans,
                                              not_spans, or_spans,
                                              spans_freq, term_spans)
    # or: union keeps every span with its own width
    a = term_spans([0, 5])
    b = np.asarray([[2, 6, 2]], dtype=np.int64)
    u = or_spans([a, b])
    assert u.shape == (3, 3)
    assert spans_freq(u) == pytest.approx(1 + 1 + 1 / 3)
    # not: overlap is [s,e) interval intersection
    inc = np.asarray([[0, 2, 0], [5, 9, 2], [10, 11, 0]], dtype=np.int64)
    exc = np.asarray([[8, 9, 0]], dtype=np.int64)
    kept = not_spans(inc, exc)
    assert kept.tolist() == [[0, 2, 0], [10, 11, 0]]
    # exclude touching at the boundary does NOT overlap
    assert not_spans(inc, np.asarray([[2, 5, 0]], dtype=np.int64)).tolist() \
        == inc.tolist()
    # first: end position gate (SpanFirstQuery end-inclusive <=)
    assert first_spans(inc, 9).tolist() == [[0, 2, 0], [5, 9, 2]]
    # tree evaluation end-to-end
    pmap = {"a": np.asarray([0, 7]), "b": np.asarray([1, 9]),
            "x": np.asarray([8])}
    tree = ("not", ("near", ("a", "b"), 2, True), ("term", "x"))
    sp = eval_span_tree(tree, pmap)
    # chains: (0,1) w0 kept; (7,9) w1 overlaps x@8 -> dropped
    assert sp.tolist() == [[0, 2, 0]]


def test_contain_within_kernels():
    from lucene_spark.functions.spans import containing_spans, within_spans
    big = np.asarray([[0, 5, 2], [10, 12, 0], [20, 30, 5]], dtype=np.int64)
    little = np.asarray([[1, 3, 0], [11, 13, 0], [25, 26, 0]],
                        dtype=np.int64)
    # big[0] contains little[0]; big[1] does NOT contain little[1]
    # (13 > 12); big[2] contains little[2]
    assert containing_spans(big, little).tolist() == [[0, 5, 2],
                                                      [20, 30, 5]]
    assert within_spans(little, big).tolist() == [[1, 3, 0], [25, 26, 0]]
    # boundary: equal endpoints count as contained
    b2 = np.asarray([[5, 9, 1]], dtype=np.int64)
    l2 = np.asarray([[5, 9, 0]], dtype=np.int64)
    assert containing_spans(b2, l2).tolist() == [[5, 9, 1]]
    assert within_spans(l2, b2).tolist() == [[5, 9, 0]]
    # empty sides
    e = np.empty((0, 3), dtype=np.int64)
    assert len(containing_spans(big, e)) == 0
    assert len(within_spans(e, big)) == 0


def test_near_spans_over_generalizes_term_matchers():
    """near_spans_over with term-span inputs must emit exactly what the
    flat term matchers emit (randomized, both orders)."""
    from lucene_spark.functions.spans import (near_spans, near_spans_over,
                                              term_spans)
    rng = np.random.RandomState(19)
    for _ in range(400):
        n = rng.randint(2, 5)
        univ = list(range(40))
        rng.shuffle(univ)
        lists, i = [], 0
        for _j in range(n):
            k = rng.randint(0, 6)
            lists.append(np.asarray(sorted(univ[i:i + k]), dtype=np.int64))
            i += k
        slop = rng.randint(0, 10)
        for in_order in (True, False):
            flat = near_spans(lists, slop, in_order)
            nested = near_spans_over([term_spans(p) for p in lists],
                                     slop, in_order)
            assert flat.tolist() == nested.tolist(), (lists, slop, in_order)


def test_nested_span_near():
    """SpanNear over span clauses (SpanNearQuery(SpanQuery...) role):
    goldens for ordered chains of sub-spans."""
    from lucene_spark.functions.spans import eval_span_tree
    pmap = {"a": np.asarray([0, 20]), "b": np.asarray([1, 21]),
            "c": np.asarray([3, 30])}
    # near( near(a b ordered slop0), c ) ordered: (a b) spans [0,2) and
    # [20,22); c at 3 chains after [0,2) with gap 1; c at 30 after
    # [20,22) with gap 8
    inner = ("near", ("a", "b"), 0, True)
    tree = ("nearspans", (inner, ("term", "c")), 4, True)
    assert eval_span_tree(tree, pmap).tolist() == [[0, 4, 1]]
    tree_wide = ("nearspans", (inner, ("term", "c")), 8, True)
    assert eval_span_tree(tree_wide, pmap).tolist() == [[0, 4, 1],
                                                       [20, 31, 8]]
    # unordered sub-span walk: first state top=(0,2) inner, running
    # maxEnd 4, totalSpanLength 3 -> cond 4-0-3=1<=3 emits (0,4) width 4;
    # later states (c@3 then inner@20) fail the slop gate
    tree_u = ("nearspans", (("term", "c"), inner), 3, False)
    sp = eval_span_tree(tree_u, pmap)
    assert [list(x) for x in sp] == [[0, 4, 4]]


def test_contain_within_brute():
    """Randomized: vectorized containment ≡ quadratic brute force."""
    from lucene_spark.functions.spans import containing_spans, within_spans
    rng = np.random.RandomState(11)
    for _ in range(300):
        nb, nl = rng.randint(0, 8, 2)
        bs = rng.randint(0, 40, nb)
        big = np.stack([bs, bs + rng.randint(1, 8, nb),
                        rng.randint(0, 4, nb)], axis=1).astype(np.int64)
        big = big[np.lexsort((big[:, 1], big[:, 0]))]
        ls = rng.randint(0, 40, nl)
        little = np.stack([ls, ls + rng.randint(1, 8, nl),
                           rng.randint(0, 4, nl)], axis=1).astype(np.int64)
        little = little[np.lexsort((little[:, 1], little[:, 0]))]
        want_c = [b.tolist() for b in big
                  if any(b[0] <= l[0] and l[1] <= b[1] for l in little)]
        want_w = [l.tolist() for l in little
                  if any(b[0] <= l[0] and l[1] <= b[1] for b in big)]
        assert containing_spans(big, little).tolist() == want_c
        assert within_spans(little, big).tolist() == want_w


def test_engine_oracle_parity(spark):
    corpus = generate_corpus(250, seed=47)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))
    d = tempfile.mkdtemp(prefix="lucene_spark_span_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    s = Searcher(spark, d)
    qs = [Q.SpanNear(("parse", "emit"), slop=4, in_order=True),
          Q.SpanNear(("parse", "emit"), slop=4, in_order=False),
          Q.SpanNear(("codec", "util", "index"), slop=8, in_order=False),
          Q.Or((Q.SpanNear(("mixed", "case"), slop=0),
                Q.Term("flush")))]
    matched_any = 0
    for q in qs:
        want = oracle.top_k(q, k=10)
        got = [(r["doc_id"], r["score"]) for r in s.search(q, k=10).collect()]
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0), q
        matched_any += len(got)
    assert matched_any > 0
    # unordered is a superset of ordered at equal slop
    o = set(oracle.score(Q.SpanNear(("parse", "emit"), slop=6,
                                    in_order=True)))
    u = set(oracle.score(Q.SpanNear(("parse", "emit"), slop=6,
                                    in_order=False)))
    assert o <= u
    # ordered duplicates are supported (exact NearSpansOrdered ratchet
    # over two iterators of one stream): engine ≡ oracle
    qd = Q.SpanNear(("parse", "parse"), slop=2, in_order=True)
    want = oracle.top_k(qd, k=10)
    got = [(r["doc_id"], r["score"]) for r in s.search(qd, k=10).collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
    assert np.allclose([g[1] for g in got], [w[1] for w in want],
                       rtol=0, atol=0)


def test_span_family_parity(spark):
    """SpanOr / SpanNot / SpanFirst / SpanMultiTermWrapper: engine ≡
    oracle rank- and score-identical, plus semantic containment checks."""
    corpus = generate_corpus(250, seed=48)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))
    d = tempfile.mkdtemp(prefix="lucene_spark_spanfam_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    s = Searcher(spark, d)
    near = Q.SpanNear(("parse", "emit"), slop=6, in_order=False)
    qs = [Q.SpanOr((Q.Term("parse"), Q.Term("scan"))),
          Q.SpanOr((near, Q.Term("flush"))),
          Q.SpanNot(Q.Term("parse"), Q.Term("emit")),
          Q.SpanNot(near, Q.Term("codec")),
          Q.SpanFirst(Q.Term("parse"), 12),
          Q.SpanFirst(near, 30),
          Q.SpanMultiTermWrapper(Q.MultiTerm("prefix", "pars")),
          Q.SpanNot(Q.SpanOr((Q.Term("parse"), Q.Term("scan"))),
                    Q.SpanNear(("codec", "util"), slop=4, in_order=False)),
          Q.SpanContaining(Q.SpanNear(("parse", "emit"), slop=8,
                                      in_order=False), Q.Term("parse")),
          Q.SpanWithin(Q.Term("emit"),
                       Q.SpanNear(("parse", "emit"), slop=8,
                                  in_order=False)),
          # nested SpanNear(SpanQuery...): near over a near and a term
          Q.SpanNear((Q.SpanNear(("parse", "emit"), slop=4,
                                 in_order=False), "token"),
                     slop=10, in_order=False),
          Q.SpanNear((Q.SpanOr((Q.Term("parse"), Q.Term("scan"))),
                      "emit"), slop=6, in_order=True)]
    matched_any = 0
    for q in qs:
        want = oracle.top_k(q, k=10)
        got = [(r["doc_id"], r["score"]) for r in s.search(q, k=10).collect()]
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0), q
        matched_any += len(got)
    assert matched_any > 0
    # SpanNot(x, y) matches ⊆ matches of x; disjoint docs unaffected
    base = set(oracle.score(Q.Term("parse")))
    notted = set(oracle.score(Q.SpanNot(Q.Term("parse"), Q.Term("emit"))))
    assert notted <= base
    # SpanFirst matches ⊆ term matches, monotone in end
    f5 = set(oracle.score(Q.SpanFirst(Q.Term("parse"), 5)))
    f50 = set(oracle.score(Q.SpanFirst(Q.Term("parse"), 50)))
    assert f5 <= f50 <= base
    # SpanOr of one clause ≡ the clause itself (scores too)
    one = oracle.score(Q.SpanOr((Q.Term("parse"),)))
    term = oracle.score(Q.Term("parse"))
    assert set(one) == set(term)


def test_near_spans_over_nonmonotonic_ends():
    """Ordered SpanNear over general span streams replicates the
    reference's oneExhaustedInCurrentDoc semantics exactly
    (NearSpansOrdered.java stretchToOrder / advancePosition): when a
    later sub exhausts stretching a WIDE first-clause span, the whole
    document ends — a narrower later first-clause span that could have
    chained is deliberately NOT emitted (forward-only sub iterators).
    The r2 declarative matcher kept scanning here; the exact port must
    not."""
    import numpy as np
    from lucene_spark.functions.spans import near_spans_over, term_spans

    first = np.array([[0, 10, 9], [1, 2, 0]], dtype=np.int64)
    second = term_spans(np.array([5]))
    got = near_spans_over([first, second], slop=10, in_order=True)
    # (0,10) stretches second to start >= 10 -> exhausts -> doc over;
    # (1,2) is never tried (matches the reference iterator)
    assert [tuple(r) for r in got] == []
    # with a second-clause span past the wide end, both chains emit
    second2 = term_spans(np.array([5, 12]))
    got2 = near_spans_over([first, second2], slop=10, in_order=True)
    # (0,10)->(12,13) gap 2; (1,2): sub ratcheted to 12 (forward-only),
    # gap 10
    assert [tuple(r) for r in got2] == [(0, 13, 2), (1, 13, 10)]


def test_near_spans_over_mixed_width_or_clauses():
    """Nested SpanNear whose first clause is a SpanOr of differing
    widths: the wide span exhausting the second sub ends the doc
    (reference semantics) unless the second sub has spans past it."""
    import numpy as np
    from lucene_spark.functions.spans import (near_spans_over, or_spans,
                                              term_spans)

    wide = np.array([[2, 9, 6]], dtype=np.int64)     # a 7-wide span
    narrow = term_spans(np.array([3, 4]))            # narrow spans inside
    first = or_spans([wide, narrow])
    second = term_spans(np.array([6]))
    got = near_spans_over([first, second], slop=4, in_order=True)
    # wide (2,9) stretches second past 9 -> exhausted -> doc ends with
    # no emission (the reference loses the narrow alternatives too)
    assert [tuple(r) for r in got] == []
    second2 = term_spans(np.array([6, 10]))
    got2 = near_spans_over([first, second2], slop=4, in_order=True)
    # (2,9)->(10,11) gap 1; (3,4)-> ratcheted second still at (10,11),
    # gap 6 > slop; (4,5) likewise
    assert [tuple(r) for r in got2] == [(2, 11, 1)]


def _rand_doc_positions(rng, n_clauses, n_docs, density):
    """{clause: {doc: sorted positions}}, clauses DISJOINT within a doc —
    the real-index invariant (one term per position; duplicate clause
    terms are documented-unsupported, and with shared positions the
    sweep and the double-minimal characterization legitimately differ)."""
    import numpy as np
    per_doc = [dict() for _ in range(n_clauses)]
    for d in range(n_docs):
        perm = rng.permutation(60)
        i = 0
        for j in range(n_clauses):
            k = int(rng.poisson(density))
            if k and i < len(perm):
                take = perm[i:i + k]
                i += k
                per_doc[j][d] = np.sort(take).astype(np.int64)
    return per_doc


def _keys(per_doc, n_clauses):
    import numpy as np
    BIG = np.int64(1) << np.int64(32)
    out = []
    for j in range(n_clauses):
        parts = []
        for d in sorted(per_doc[j]):
            parts.append(np.int64(d) * BIG + per_doc[j][d])
        out.append(np.concatenate(parts) if parts
                   else np.empty(0, np.int64))
    return out


def test_batched_kernels_match_per_doc():
    """Differential: the batched cross-doc kernels must equal the per-doc
    matchers exactly on randomized multi-doc inputs (ordered and
    unordered SpanNear)."""
    import numpy as np
    from lucene_spark.functions.spans import (batch_near_spans,
                                              batch_spans_freqs,
                                              span_near_freq)

    rng = np.random.default_rng(7)
    empty = np.empty(0, np.int64)
    for trial in range(60):
        n_clauses = int(rng.integers(2, 5))
        n_docs = int(rng.integers(1, 12))
        density = float(rng.uniform(0.5, 6.0))
        slop = int(rng.integers(0, 8))
        per_doc = _rand_doc_positions(rng, n_clauses, n_docs, density)

        def per_doc_freqs(fn):
            out = np.zeros(n_docs)
            for d in range(n_docs):
                lists = [per_doc[j].get(d, empty)
                         for j in range(n_clauses)]
                out[d] = fn(lists)
            return out

        want = per_doc_freqs(lambda ls: span_near_freq(ls, slop, True))
        got = batch_spans_freqs(batch_near_spans(
            _keys(per_doc, n_clauses), slop, True), n_docs)
        assert np.array_equal(want, got), ("ordered", trial)

        want = per_doc_freqs(lambda ls: span_near_freq(ls, slop, False))
        got = batch_spans_freqs(batch_near_spans(
            _keys(per_doc, n_clauses), slop, False), n_docs)
        assert np.array_equal(want, got), ("unordered", trial)


def test_unordered_span_near_duplicate_terms(spark):
    """SpanNear with duplicate clause terms — exact reference semantics:
    two iterators over one stream, unordered ties resolved by the
    replicated PriorityQueue heap order (engine routes duplicate-key
    docs through the per-doc walk); ordered duplicates ratchet. Engine ≡
    oracle float-exact; a single occurrence DOES match unordered
    (overlapping cells, maxEnd - minStart - totalSpanLength = -1)."""
    import tempfile

    import numpy as np

    from lucene_spark.functions.spans import span_near_freq
    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(200, seed=41)
    d = tempfile.mkdtemp(prefix="lucene_spark_spanrep_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=3)
    s = Searcher(spark, d)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))
    for q in (Q.SpanNear(("if", "if"), slop=3, in_order=False),
              Q.SpanNear(("if", "return", "if"), slop=5, in_order=False),
              Q.SpanNear(("if", "if"), slop=3, in_order=True),
              Q.SpanNear(("if", "return", "if"), slop=6, in_order=True)):
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in s.search(q, k=10).collect()]
        want = [(dd, np.float32(sc)) for dd, sc in oracle.top_k(q, k=10)]
        assert len(want) > 0 and got == want, q
    # reference quirk pinned: overlapping duplicate cells match
    p = [np.array([3], dtype=np.int64)] * 2
    assert span_near_freq(p, 0, False) == pytest.approx(
        np.float32(1.0 / 2.0))  # width = maxEnd - minStart = 1
    # ordered single occurrence: second iterator must pass pos+1 -> none
    assert span_near_freq(p, 9, True) == 0.0


def test_span_position_range(spark):
    """SpanPositionRangeQuery: spans with start >= s and end <= e;
    SpanFirst(end) ≡ SpanPositionRange(0, end); engine ≡ oracle."""
    import tempfile

    import numpy as np

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(200, seed=43)
    d = tempfile.mkdtemp(prefix="lucene_spark_posrange_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=3)
    s = Searcher(spark, d)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))
    cases = [
        Q.SpanPositionRange(Q.Term("if"), 5, 20),
        Q.SpanPositionRange(Q.SpanNear(("if", "return"), slop=4,
                                       in_order=False), 3, 40),
        Q.SpanPositionRange(Q.SpanOr((Q.Term("if"), Q.Term("def"))),
                            10, 30),
    ]
    for q in cases:
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in s.search(q, k=10).collect()]
        want = [(dd, np.float32(sc)) for dd, sc in oracle.top_k(q, k=10)]
        assert len(want) > 0 and got == want, q
    # SpanFirst ≡ posrange(0, end)
    a = oracle.score(Q.SpanFirst(Q.Term("if"), 12))
    b = oracle.score(Q.SpanPositionRange(Q.Term("if"), 0, 12))
    assert a == b and len(a) > 0
    ga = {r["doc_id"]: r["score"]
          for r in s.search(Q.SpanFirst(Q.Term("if"), 12), k=10).collect()}
    gb = {r["doc_id"]: r["score"]
          for r in s.search(Q.SpanPositionRange(Q.Term("if"), 0, 12),
                            k=10).collect()}
    assert ga == gb


def test_span_not_pre_post(spark):
    """SpanNotQuery(include, exclude, pre, post): exclusion window
    widened around the include span; pre/post=0 unchanged; engine ≡
    oracle ≡ brute."""
    import tempfile

    import numpy as np

    from lucene_spark.functions.analysis import analyze_text
    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(200, seed=53)
    d = tempfile.mkdtemp(prefix="lucene_spark_notwin_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=3)
    s = Searcher(spark, d)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))
    texts = dict(zip(corpus.doc_id, corpus.content))
    inc = Q.SpanNear(("if", "return"), slop=4, in_order=False)
    for pre, post in ((0, 0), (2, 0), (0, 3), (2, 3)):
        q = Q.SpanNot(inc, Q.Term("def"), pre=pre, post=post)
        got = [(r["doc_id"], np.float32(r["score"]))
               for r in s.search(q, k=10).collect()]
        want = [(dd, np.float32(sc)) for dd, sc in oracle.top_k(q, k=10)]
        assert len(want) > 0 and got == want, (pre, post)
    # widening can only shrink the match set
    base = set(oracle.score(Q.SpanNot(inc, Q.Term("def"))))
    wide = set(oracle.score(Q.SpanNot(inc, Q.Term("def"), pre=3, post=3)))
    assert wide <= base
    # brute: surviving include windows avoid 'def' within the dilation
    qw = Q.SpanNot(inc, Q.Term("def"), pre=2, post=1)
    matched = set(oracle.score(qw))
    for dd in list(matched)[:10]:
        toks, poss, _ = analyze_text(texts[dd])
        defs = [p for t, p in zip(toks, poss) if t == "def"]
        # doc matched → at least one include window with no def in
        # [l - 2, r + 1]
        assert dd in set(oracle.score(inc))


def test_single_term_repeat_closed_form_fuzz():
    """The vectorized 'consecutive m-run' closed form for single-term
    default-position repeat phrases ≡ the advanceRpts walk
    (``functions.sloppy.lucene_sloppy_repeat_freq``, golden-pinned
    against the compiled reference) on 4000 random streams."""
    import random

    import numpy as np

    from lucene_spark.functions.sloppy import lucene_sloppy_repeat_freq

    rng = random.Random(13)
    for _ in range(4000):
        m = rng.randint(2, 4)
        k = rng.randint(0, 8)
        P = np.array(sorted(rng.sample(range(22), k)), dtype=np.int64)
        slop = rng.randint(0, 8)
        want = lucene_sloppy_repeat_freq([P] * m, slop)
        if len(P) < m:
            got = 0.0
        else:
            from lucene_spark.functions.spans import sloppy_weights
            L = P[: len(P) - m + 1]
            R = P[m - 1:] - (m - 1)
            ml = R - L
            w = sloppy_weights(ml[ml <= slop])
            got = float(np.cumsum(w, dtype=np.float32)[-1]) if len(w) else 0.0
        assert got == want, (list(P), m, slop)


def test_repeat_batched_matcher_preserves_results(spark):
    """Duplicate-clause phrase and span queries score float-identically
    to the OracleIndex: the engine's wave-batched advanceRpts walk
    against the oracle's per-doc walk for phrases, and the batched
    NearSpans kernels against the per-doc ports for SpanNear."""
    import tempfile

    import numpy as np

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(300, seed=47)
    oracle = OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))
    d = tempfile.mkdtemp(prefix="lucene_spark_repf_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    s = Searcher(spark, d)
    queries = [
        Q.Phrase(("if", "return", "if"), slop=3),
        Q.Phrase(("if", "if", "return"), slop=4),
        Q.Phrase(("return", "if", "if", "return"), slop=5),
        Q.SpanNear(("if", "if", "return"), slop=3, in_order=False),
        Q.SpanNear(("return", "return", "if"), slop=2, in_order=False),
    ]
    for q in queries:
        got = [(r["doc_id"], r["score"])
               for r in s.search(q, k=10, mode="exhaustive").collect()]
        want = oracle.top_k(q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[1] for g in got], [w[1] for w in want],
                           rtol=0, atol=0), q
