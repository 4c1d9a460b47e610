"""Passage highlighting for search hits.

Reference: the ``lucene/highlighter`` module (UnifiedHighlighter):
re-analyze the stored text of each hit with offsets, score candidate
passages by the query terms they contain, and return the best passage
with the matched terms wrapped in tags.

Spark-first shape: highlighting touches only the ≤k hit rows. The hits
DataFrame (tiny) is broadcast-joined against the source table — at scale
that is a broadcast-hash join where only the k matching source rows are
materialized past the scan filter — and snippet extraction runs in one
Arrow batch per partition (``mapInPandas``-style pandas UDF), never
per-row Python over the corpus.

Passage scoring (documented simplification of UnifiedHighlighter's
sentence-BreakIterator passages): candidate passages are every
``window``-token span starting at a query-term hit; the best passage
maximizes (#distinct query terms, #total matches, -start) — i.e. most
coverage, then densest, then earliest.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analysis import _TOKEN_RE


def _best_snippet(text: str, terms: frozenset[str], window: int,
                  pre: str, post: str) -> str:
    """Best ``window``-token passage of ``text`` with query-term matches
    wrapped in pre/post tags. Empty string when nothing matches."""
    toks = [(m.start(), m.end(), m.group().lower())
            for m in _TOKEN_RE.finditer(text)]
    return _best_snippet_from_tokens(text, toks, terms, window, pre, post)


def _best_snippet_from_tokens(text: str, toks, terms: frozenset[str],
                              window: int, pre: str, post: str) -> str:
    """Passage selection over an explicit (start, end, term) token list —
    shared by the re-analysis path (tokens from ``_TOKEN_RE``) and the
    term-vector path (tokens from the stored offsets sidecar)."""
    hit_idx = [i for i, (_, _, t) in enumerate(toks) if t in terms]
    if not hit_idx:
        return ""
    best = None  # (-distinct, -total, start_tok)
    for start in hit_idx:
        end = min(start + window, len(toks))
        span = [t for _, _, t in toks[start:end] if t in terms]
        key = (-len(set(span)), -len(span), start)
        if best is None or key < best:
            best = key
            best_range = (start, end)
    s, e = best_range
    lo = toks[s][0]
    hi = toks[e - 1][1]
    out = []
    cur = lo
    for ts, te, t in toks[s:e]:
        if t in terms:
            out.append(text[cur:ts])
            out.append(pre + text[ts:te] + post)
            cur = te
    out.append(text[cur:hi])
    return "".join(out)


def highlight(searcher, docs_df: DataFrame, query, k: int = 10,
              window: int = 8, pre: str = "<b>", post: str = "</b>",
              id_col: str = "doc_id", text_col: str = "text",
              mode: str = "auto") -> DataFrame:
    """Search, then attach the best passage per hit.

    Returns (doc_id, rank, score, snippet) — rank order preserved from
    the search; docs whose text yields no match (e.g. constant-score
    clauses) get an empty snippet.
    """
    from pyspark.sql.functions import pandas_udf

    from ..plans.parser import parse
    if isinstance(query, str):
        query = parse(query)
    terms = frozenset(query.scoring_terms())
    hits = searcher.search(query, k, mode=mode)
    joined = (docs_df.select(F.col(id_col).alias("doc_id"),
                             F.col(text_col).alias("_text"))
                     .join(F.broadcast(hits), on="doc_id"))

    @pandas_udf("string")
    def snip(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _best_snippet(t or "", terms, window,
                                                 pre, post))

    return (joined.withColumn("snippet", snip(F.col("_text")))
                  .select("doc_id", "rank", "score", "snippet")
                  .orderBy("rank"))


def highlight_tv(searcher, docs_df: DataFrame, query, k: int = 10,
                 window: int = 8, pre: str = "<b>", post: str = "</b>",
                 id_col: str = "doc_id", text_col: str = "text",
                 mode: str = "auto") -> DataFrame:
    """FastVectorHighlighter role (reference
    ``highlighter/.../vectorhighlight/FastVectorHighlighter.java:48``):
    highlight from the index-time term-vector offsets instead of
    re-analyzing the stored text — the win is skipping analysis on long
    documents at query time, exactly the reference's trade. Requires the
    index to have been built with ``store_term_vectors=True``.

    Same passage selection as :func:`highlight` (both feed
    ``_best_snippet_from_tokens``), so on any plain-standard-chain index
    the two produce byte-identical snippets; the stored text is still
    joined for the final slice, like the reference reads stored fields
    for fragment text. Plan shape: hits (≤k rows) broadcast against BOTH
    the term-vector sidecar scan and the source table — two
    broadcast-hash joins, snippet assembly in one Arrow batch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..plans.parser import parse
    if isinstance(query, str):
        query = parse(query)
    terms = frozenset(query.scoring_terms())
    hits = searcher.search(query, k, mode=mode)
    tv_hits = searcher.term_vectors(hits)
    joined = (docs_df.select(F.col(id_col).alias("doc_id"),
                             F.col(text_col).alias("_text"))
              .join(F.broadcast(hits), on="doc_id")
              .join(F.broadcast(tv_hits), on="doc_id"))

    @pandas_udf("string")
    def snip_tv(texts: pd.Series, tv_terms: pd.Series,
                starts: pd.Series, ends: pd.Series) -> pd.Series:
        out = []
        for text, ts, ss, es in zip(texts, tv_terms, starts, ends):
            toks = list(zip((np.asarray(ss) if ss is not None else ()),
                            (np.asarray(es) if es is not None else ()),
                            (ts if ts is not None else ())))
            out.append(_best_snippet_from_tokens(text or "", toks, terms,
                                                 window, pre, post))
        return pd.Series(out)

    return (joined.withColumn(
                "snippet", snip_tv(F.col("_text"), F.col("terms"),
                                   F.col("starts"), F.col("ends")))
            .select("doc_id", "rank", "score", "snippet")
            .orderBy("rank"))
