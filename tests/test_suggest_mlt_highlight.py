"""Tests for suggest/spell, MoreLikeThis, and the highlighter."""

from __future__ import annotations

import math
import re
import tempfile
from collections import Counter

import numpy as np
import pytest

from lucene_spark.functions.analysis import analyze_text
from lucene_spark.operators.build import build_index
from lucene_spark.operators.highlight import highlight
from lucene_spark.operators.mlt import interesting_terms, more_like_this
from lucene_spark.operators.search import Searcher
from lucene_spark.operators.suggest import spell_suggest, suggest_prefix
from lucene_spark.oracle import OracleIndex
from lucene_spark.plans import query as Q
from lucene_spark.sources.corpus import generate_corpus

N_DOCS = 250


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS, seed=13)


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex.build(list(zip(corpus.doc_id, corpus.content)))


@pytest.fixture(scope="module")
def searcher(spark, corpus):
    d = tempfile.mkdtemp(prefix="lucene_spark_sugg_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    return Searcher(spark, d)


@pytest.fixture(scope="module")
def dfs(corpus):
    """Brute-force python document frequencies."""
    c = Counter()
    for text in corpus.content:
        c.update(set(analyze_text(text)[0]))
    return c


# ---------------------------------------------------------------------------
# suggest
# ---------------------------------------------------------------------------

def test_suggest_prefix_matches_bruteforce(searcher, dfs):
    got = [(r["term"], r["weight"])
           for r in suggest_prefix(searcher, "pa", k=8).collect()]
    want = sorted(((t, df) for t, df in dfs.items() if t.startswith("pa")),
                  key=lambda p: (-p[1], p[0]))[:8]
    assert got == want
    assert len(got) > 0


def test_spell_suggest_matches_bruteforce(searcher, dfs):
    def lev(a, b):
        m = np.zeros((len(a) + 1, len(b) + 1), dtype=int)
        m[:, 0] = np.arange(len(a) + 1)
        m[0, :] = np.arange(len(b) + 1)
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                m[i, j] = min(m[i - 1, j] + 1, m[i, j - 1] + 1,
                              m[i - 1, j - 1] + (a[i - 1] != b[j - 1]))
        return int(m[len(a), len(b)])

    word = "parsse"  # misspelling of 'parse'
    got = [(r["term"], r["distance"])
           for r in spell_suggest(searcher, word, k=5, max_edits=2).collect()]
    cand = [(t, lev(t, word), df) for t, df in dfs.items()
            if t != word and t.startswith(word[0])
            and abs(len(t) - len(word)) <= 2]
    want = [(t, d) for t, d, df in
            sorted((c for c in cand if c[1] <= 2),
                   key=lambda c: (c[1], -c[2], c[0]))[:5]]
    assert got == want
    assert got[0][0] == "parse"


# ---------------------------------------------------------------------------
# MoreLikeThis
# ---------------------------------------------------------------------------

def test_interesting_terms_matches_bruteforce(searcher, corpus, dfs):
    text = corpus.content.iloc[3]
    got = interesting_terms(searcher, text, max_query_terms=10,
                            min_term_freq=2, min_doc_freq=5)
    tfs = Counter(analyze_text(text)[0])
    want = []
    for t, f in tfs.items():
        if f < 2 or dfs[t] < 5:
            continue
        want.append((t, f * (math.log((N_DOCS + 1) / (dfs[t] + 1)) + 1.0)))
    want.sort(key=lambda p: (-p[1], p[0]))
    assert got == want[:10]
    assert len(got) > 0


def test_more_like_this_matches_oracle(spark, searcher, corpus, oracle):
    docs_df = spark.createDataFrame(corpus)
    res = more_like_this(searcher, docs_df, doc_id=3, k=10,
                         max_query_terms=10, text_col="content")
    got = [(r["doc_id"], r["score"]) for r in res.collect()]
    sel = interesting_terms(searcher, corpus.content.iloc[3],
                            max_query_terms=10, min_term_freq=2,
                            min_doc_freq=5)
    want = oracle.top_k(Q.Or(tuple(Q.Term(t) for t, _ in sel)), k=10)
    assert [g[0] for g in got] == [w[0] for w in want]
    assert np.allclose([g[1] for g in got], [w[1] for w in want],
                       rtol=0, atol=0)
    assert 3 in [g[0] for g in got]  # the seed doc is among its own hits


# ---------------------------------------------------------------------------
# highlighter
# ---------------------------------------------------------------------------

def test_highlight_snippets(spark, searcher, corpus):
    docs_df = spark.createDataFrame(corpus)
    out = highlight(searcher, docs_df, "parse AND token", k=5,
                    text_col="content").collect()
    assert len(out) >= 1
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    for r in out:
        snip = r["snippet"]
        assert "<b>" in snip
        # every tagged token is a query term
        for tagged in re.findall(r"<b>(.*?)</b>", snip):
            assert tagged.lower() in {"parse", "token"}
        # the snippet is a verbatim substring of the doc once tags removed
        plain = snip.replace("<b>", "").replace("</b>", "")
        assert plain in corpus.content.iloc[int(r["doc_id"])] \
            or plain in list(corpus[corpus.doc_id == r["doc_id"]]
                             .content)[0]


def test_highlight_best_passage_prefers_coverage():
    from lucene_spark.operators.highlight import _best_snippet
    text = "alpha beta gamma alpha delta ... alpha beta zeta"
    s = _best_snippet(text, frozenset({"alpha", "beta", "zeta"}), 3,
                      "<b>", "</b>")
    # the last window covers 3 distinct terms; earlier ones only 2
    assert s == "<b>alpha</b> <b>beta</b> <b>zeta</b>"


def test_fuzzy_suggest(searcher, dfs):
    """FuzzySuggester: completions with some prefix within max_edits of
    the typed text (non-fuzzy first char, min fuzzy length), weight
    (df) ordered — vs a brute scan of the dictionary."""
    from lucene_spark.operators.suggest import fuzzy_suggest

    def lev(a, b):
        from lucene_spark.oracle import _levenshtein
        return _levenshtein(a, b)

    typed, e = "pars", 1
    want = []
    for t, df in dfs.items():
        if not t.startswith(typed[:1]) or len(t) < len(typed) - e:
            continue
        best = min(lev(t[:L], typed)
                   for L in range(max(1, len(typed) - e),
                                  len(typed) + e + 1))
        if best <= e:
            want.append((t, df))
    want.sort(key=lambda p: (-p[1], p[0]))
    got = [(r["term"], r["weight"])
           for r in fuzzy_suggest(searcher, typed, k=10).collect()]
    assert got == want[:10] and len(got) > 0
    # short typed text falls back to exact prefix completion
    short = [(r["term"], r["weight"])
             for r in fuzzy_suggest(searcher, "pa", k=5).collect()]
    assert all(t.startswith("pa") for t, _ in short)


def test_free_text_suggest(spark, corpus, tmp_path):
    """FreeTextSuggester with stupid backoff (ALPHA=0.4) over a
    bigram-shingled index — vs brute bigram/unigram counts."""
    from collections import Counter

    from lucene_spark.operators.suggest import free_text_suggest

    d = str(tmp_path / "ftidx")
    build_index(spark, spark.createDataFrame(corpus), d,
                num_segments=3, shingles=(2, 2))
    s = Searcher(spark, d)
    uni, big = Counter(), Counter()
    for text in corpus.content:
        toks = analyze_text(text)[0]
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    ctx = uni.most_common(1)[0][0]
    total = sum(uni.values())
    want = {}
    for (a, b), c in big.items():
        if a == ctx:
            want[b] = c / uni[ctx]
    for t, c in uni.items():
        if t not in want:
            want[t] = 0.4 * c / total
    wlist = sorted(want.items(), key=lambda p: (-p[1], p[0]))[:10]
    got = [(r["term"], r["score"])
           for r in free_text_suggest(s, ctx, k=10).collect()]
    assert [g[0] for g in got] == [w[0] for w in wlist]
    for g, w in zip(got, wlist):
        assert g[1] == pytest.approx(w[1], rel=1e-12)


def test_word_break_suggest(searcher, dfs):
    """WordBreakSpellChecker breaks: split points whose both halves are
    dictionary terms, ranked by summed df — vs a brute dictionary scan."""
    from lucene_spark.operators.suggest import word_break_suggest
    word = "parseemit"
    want = []
    for i in range(1, len(word)):
        lft, rgt = word[:i], word[i:]
        if dfs.get(lft, 0) >= 1 and dfs.get(rgt, 0) >= 1:
            want.append((lft, rgt, dfs[lft], dfs[rgt]))
    want.sort(key=lambda r: (-(r[2] + r[3]), r[0]))
    got = [(r["left"], r["right"], r["df_left"], r["df_right"])
           for r in word_break_suggest(searcher, word).collect()]
    assert got == want and ("parse", "emit") in {(g[0], g[1]) for g in got}
    # min_break_length prunes 1-char halves
    short = word_break_suggest(searcher, "aparse",
                               min_break_length=2).collect()
    assert all(len(r["left"]) >= 2 and len(r["right"]) >= 2 for r in short)


def test_word_combine_suggest(spark, searcher, corpus, dfs):
    """WordBreakSpellChecker combinations: adjacent input terms whose
    concatenation is a dictionary term."""
    from lucene_spark.operators.suggest import word_combine_suggest
    # find a real concatenation in the dictionary: identifiers like
    # foo_bar tokenize whole, so synthesize from two dictionary words
    # that concatenate into another dictionary word if one exists;
    # otherwise assert empty-result behavior
    terms = ["par", "se", "emit"]        # "parse" = "par"+"se"
    got = [(r["start"], r["end"], r["combined"], r["df"])
           for r in word_combine_suggest(searcher, terms).collect()]
    if dfs.get("parse", 0) >= 1:
        assert (0, 1, "parse", dfs["parse"]) in got
    assert all(g[3] >= 1 for g in got)
    none = word_combine_suggest(searcher, ["zz", "qq"]).collect()
    assert none == []


def test_infix_suggest(searcher, dfs):
    """AnalyzingInfixSuggester (single-token subset): contains-match,
    prefix-first then df-weighted."""
    from lucene_spark.operators.suggest import infix_suggest
    frag = "ar"
    want = [(t, df) for t, df in dfs.items() if frag in t]
    want.sort(key=lambda p: (not p[0].startswith(frag), -p[1], p[0]))
    got = [(r["term"], r["weight"])
           for r in infix_suggest(searcher, frag, k=10).collect()]
    assert got == want[:10] and len(got) > 0
    assert any(not t.startswith(frag) for t, _ in got) or len(want) <= 10


def test_highlight_tv_matches_reanalysis(spark):
    """FastVectorHighlighter role: snippets from stored term-vector
    offsets are byte-identical to the re-analysis highlighter on the
    same index + query (both feed _best_snippet_from_tokens)."""
    import tempfile

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.highlight import highlight, highlight_tv
    from lucene_spark.operators.search import Searcher
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(200, seed=43)
    d = tempfile.mkdtemp(prefix="lucene_spark_tv_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4,
                store_term_vectors=True)
    s = Searcher(spark, d)
    docs_df = spark.createDataFrame(corpus)
    for qtext in ("parse AND token", "if return", '"mixed case"'):
        a = highlight(s, docs_df, qtext, k=5, text_col="content").collect()
        b = highlight_tv(s, docs_df, qtext, k=5,
                         text_col="content").collect()
        assert [r.asDict() for r in a] == [r.asDict() for r in b], qtext
    assert any("<b>" in r["snippet"]
               for r in highlight_tv(s, docs_df, "parse", k=5,
                                     text_col="content").collect())


def test_highlight_tv_requires_flag(spark):
    import tempfile

    import pytest as _pytest

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.highlight import highlight_tv
    from lucene_spark.operators.search import Searcher
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(50, seed=44)
    d = tempfile.mkdtemp(prefix="lucene_spark_tvless_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=2)
    s = Searcher(spark, d)
    with _pytest.raises(ValueError, match="term_vectors"):
        highlight_tv(s, spark.createDataFrame(corpus), "parse",
                     text_col="content")
    # the sidecar holds the plain standard chain's terms, so every chain
    # that indexes other terms is refused
    for chain in ({"stemmer": "porter"}, {"reverse_tokens": True},
                  {"phonetic": ("soundex", False)}):
        with _pytest.raises(ValueError, match="standard chain"):
            build_index(spark, spark.createDataFrame(corpus), d,
                        num_segments=2, store_term_vectors=True, **chain)


def test_highlight_tv_latest_wins_after_update(spark):
    """updateDocument appends a new TV generation; the highlighter must
    read the NEWEST segment's vector for the doc."""
    import tempfile

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.delete import update_documents
    from lucene_spark.operators.highlight import highlight_tv
    from lucene_spark.operators.search import Searcher
    from lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(60, seed=45)
    d = tempfile.mkdtemp(prefix="lucene_spark_tvupd_")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=3,
                store_term_vectors=True)
    newdocs = corpus[corpus.doc_id == 7].copy()
    newdocs["content"] = ["zzmarker fresh text zzmarker"]
    update_documents(spark, d, spark.createDataFrame(newdocs),
                     store_term_vectors=True)
    s = Searcher(spark, d)
    import pandas as pd
    docs = pd.concat([corpus[corpus.doc_id != 7], newdocs])
    out = highlight_tv(s, spark.createDataFrame(docs), "zzmarker", k=5,
                       text_col="content").collect()
    assert [r["doc_id"] for r in out] == [7]
    assert out[0]["snippet"].count("<b>zzmarker</b>") >= 1


def test_blended_infix_suggest(spark):
    """BlendedInfixSuggester.lookup (suggest/.../analyzing/
    BlendedInfixSuggester.java:60-268): position-blended weights, all
    three blender types, vs a per-suggestion replay of the reference
    protocol (coefficient-1 startswith pin, weight 0→1 and ×10 rules,
    long truncation)."""
    from lucene_spark.operators.suggest import blended_infix_suggest
    rows = [
        ("star wars: episode v - the empire strikes back", 12),
        ("star trek generations", 40),
        ("the empire of light", 4),
        ("empire state of mind", 0),
        ("lord of the rings", 100),
        ("back to the empire future", 77),
    ]
    df = spark.createDataFrame(rows, "text string, weight long")

    def replay(key, blender, exponent=2.0):
        toks = key.lower().split()
        trailing = key.endswith(" ")
        exact = toks if trailing else toks[:-1]
        prefix = None if trailing else toks[-1]
        out = []
        for text, w in rows:
            tks = text.lower().split()
            ok = all(t in tks for t in exact)
            if prefix is not None:
                ok = ok and any(t.startswith(prefix) for t in tks)
            if not ok:
                continue
            pos = min(p for p, t in enumerate(tks)
                      if t in exact
                      or (prefix is not None and t.startswith(prefix)))
            if text.lower().startswith(key.lower()):
                coef = 1.0
            elif blender == "linear":
                coef = 1.0 - 0.10 * pos
            elif blender == "reciprocal":
                coef = 1.0 / (1.0 + pos)
            else:
                coef = 1.0 / (1.0 + pos) ** exponent
            ww = 1.0 if w == 0 else float(w)
            if -10.0 < ww < 10.0:
                ww *= 10.0
            out.append((text, int(ww * coef), w))
        return sorted(out, key=lambda r: (-r[1], r[0]))

    for blender in ("linear", "reciprocal", "exponential_reciprocal"):
        for key in ("empire", "star ", "the empire"):
            got = [(r["text"], r["score"], r["weight"]) for r in
                   blended_infix_suggest(df, key, k=10,
                                         blender=blender).collect()]
            assert got == replay(key, blender), (blender, key)
    import pytest as _pt
    with _pt.raises(ValueError):
        blended_infix_suggest(df, "empire", blender="bogus")
    with _pt.raises(ValueError):
        blended_infix_suggest(df, "   ")
