"""In-memory segments: documents inverted in RAM and searched with the
engine's own query compile and kernels.

Reference: ``memory/src/java/org/apache/lucene/index/memory/
MemoryIndex.java:78`` — index ONE document in RAM, run arbitrary queries
against it, read back a score — and ``monitor/CandidateMatcher.java``,
which percolates a document by running each query's own Weight over
such an in-RAM index.

:class:`MemorySegment` inverts a frame of documents with the build's
kernel, ``build.invert_segment`` (analysis, inversion, postings encoding
and norms, exactly as a built segment), and keeps the postings, norms and
collection stats in memory. A query runs through the same
:class:`~lucene_spark.operators.search.QueryCompiler` as a ``Searcher``
(rewrite, multi-term expansion, weights) and through ``_eval_range``, the
kernel a search task runs on each segment, so percolation and one-doc
scoring cannot disagree with search. Multi-term queries expand with no
cap (neither maxClauseCount nor fuzzy maxExpansions), so whether a
document matches depends on the document alone, not on the other
documents inverted with it. The Monitor (``streaming/monitor.py``) inverts
each Arrow batch into one memory segment, and scores a matched document
on ``MemorySegment.doc(i)``: the same postings, read with the stats of a
one-doc index of that document.

:class:`MemoryIndex` is the one-document segment. ``add_field`` appends
to the one content field; repeated calls join the texts with a space, so
positions run on across calls. ``freeze()`` makes the instance immutable
(the reference's frozen mode rejects further addField); ``reset()``
clears and unfreezes it for reuse. The analyzer chain takes the
:class:`~lucene_spark.functions.analysis.AnalyzerSpec` options of
``build_index``. Scores use the single-doc collection stats the
reference exposes through its MemoryIndexReader (docCount=1, df∈{0,1},
avgdl = the doc's own length).
"""

from __future__ import annotations

import copy

import numpy as np
import pandas as pd

from ..functions.bm25 import B_DEFAULT, K1_DEFAULT
from ..functions.codec import TermSegPostings, decode_norms
from ..functions.similarity import BM25Similarity, Similarity
from ..plans.parser import parse
from ..plans.query import Query
from .build import invert_segment
from .search import QueryCompiler, _eval_range, _SegContext


class MemorySegment(QueryCompiler):
    """The docs of a ``(doc_id, text)`` frame as one segment in memory.
    Local doc ``i`` is the ``i``-th doc by ascending ``doc_id``
    (``doc_ids[i]``), as in a built segment; ``chain`` holds the
    analyzer options. Nothing is deleted, and multi-term expansion has
    no cap: ``expand_terms`` and ``fuzzy_terms_with_boosts`` return every
    matching term of the segment."""

    def __init__(self, docs: pd.DataFrame,
                 similarity: Similarity | None = None, *,
                 stopwords: frozenset = frozenset(), **chain):
        postings, _, norms, sum_token_len = invert_segment(
            docs, 0, "text", "doc_id", stopwords, True, **chain)
        #: postings row by term, in sorted term order
        self.rows = {r["term"]: r for r in (
            dict(zip(postings.columns, vals)) for vals in zip(
                *(postings[c].tolist() for c in postings.columns)))}
        self.norms, self.doc_ids = decode_norms(norms)
        self.doc_count = len(self.norms)
        self.sum_ttf = sum_token_len
        self.deletes: dict = {}
        #: the scoring model, read by each ``evaluate``
        self.similarity = similarity or BM25Similarity()
        #: ``(df, ttf)`` by term, and the local docs ``[lo, hi)`` a query
        #: runs over; :meth:`doc` narrows both to one doc
        self.stats = {t: (int(r["df"]), int(r["ttf"]))
                      for t, r in self.rows.items()}
        self.lo, self.hi = 0, self.doc_count
        # one reader context for every query, so each term's postings
        # are decoded once per segment
        self._ctx = _SegContext(self.rows, self.norms, None)
        self._forward: tuple | None = None

    def _term_columns(self, bounds):
        """The segment's terms: the matcher's ``select`` is exact, so the
        whole vocabulary stands in for the bounded read."""
        yield list(self.stats)

    def _global_stats(self, terms: list[str]) \
            -> tuple[dict[str, int], dict[str, int]]:
        st = {t: self.stats[t] for t in set(terms) if t in self.stats}
        return ({t: s[0] for t, s in st.items()},
                {t: s[1] for t, s in st.items()})

    def doc(self, i: int) -> "MemorySegment":
        """Local doc ``i`` alone, over the same postings and norms, with
        the stats of a one-doc index of it (the reference's MemoryIndex
        stats, which ScoringMatch scores with): N = 1, df = 1 and ttf =
        tf for its own terms, ``sum_ttf`` = the sum of those tfs."""
        if self._forward is None:
            # forward index: every (doc, term, tf) posting, doc-major and
            # term-sorted within a doc
            terms = list(self.rows)
            pairs = [self._ctx.tp(t).decode_all() for t in terms]
            empty = [np.empty(0, np.int64)]
            ids = np.concatenate([p[0] for p in pairs] + empty)
            tfs = np.concatenate([p[1] for p in pairs] + empty)
            codes = np.repeat(np.arange(len(terms)),
                              [len(p[0]) for p in pairs])
            order = np.argsort(ids, kind="stable")
            self._forward = (np.array(terms, dtype=object)[codes[order]],
                             tfs[order],
                             np.searchsorted(ids[order],
                                             np.arange(self.doc_count + 1)))
        terms, tfs, bounds = self._forward
        a, b = bounds[i], bounds[i + 1]
        view = copy.copy(self)
        view.stats = {t: (1, int(tf)) for t, tf in zip(terms[a:b], tfs[a:b])}
        view.doc_count, view.sum_ttf = 1, int(tfs[a:b].sum())
        view.lo, view.hi = i, i + 1
        return view

    def expand_terms(self, kind: str, value, max_terms: int | None = None
                     ) -> list[str]:
        return super().expand_terms(kind, value, max_terms)

    def fuzzy_terms_with_boosts(self, base: str, max_edits: int = 2,
                                max_expansions: int | None = None
                                ) -> list[tuple[str, float]]:
        return super().fuzzy_terms_with_boosts(base, max_edits,
                                               max_expansions)

    def postings(self, term: str) -> TermSegPostings | None:
        """The postings of ``term``, or None when no doc holds it."""
        return self._ctx.tp(term)

    def evaluate(self, query) -> tuple[np.ndarray, np.ndarray]:
        """``(mask, float64 scores)`` of ``query`` over the local docs
        ``[lo, hi)``."""
        compiled, cache = self._compile(query)
        if compiled is None:
            return (np.zeros(self.hi - self.lo, dtype=bool),
                    np.zeros(self.hi - self.lo, dtype=np.float64))
        self._ctx.cache, self._ctx.sim = cache, self.similarity
        return _eval_range(compiled, self._ctx, self.lo, self.hi)

    def score(self, query) -> float:
        """float32 score of ``query`` on the first doc of ``[lo, hi)``,
        0.0 when it doesn't match."""
        mask, scores = self.evaluate(query)
        return float(np.float32(scores[0])) if mask[0] else 0.0


class MemoryIndex:
    """One-document index; queries score against it directly."""

    def __init__(self, text: str | None = None, **analyzer_kwargs):
        self._parts: list[str] = []
        self._kwargs = analyzer_kwargs
        self._seg: MemorySegment | None = None
        self._frozen = False
        if text is not None:
            self.add_field(text)

    def add_field(self, text: str) -> "MemoryIndex":
        """Append analyzed text to the document (chainable); raises on a
        frozen index."""
        if self._frozen:
            raise ValueError("cannot add fields to a frozen MemoryIndex")
        if text:
            self._parts.append(text)
        self._seg = None
        return self

    def freeze(self) -> "MemoryIndex":
        """``MemoryIndex.freeze()``: no further ``add_field``."""
        self._frozen = True
        return self

    def _segment(self) -> MemorySegment:
        if self._seg is None:
            self._seg = MemorySegment(
                pd.DataFrame({"doc_id": [0], "text": [" ".join(self._parts)]}),
                **self._kwargs)
        return self._seg

    def search(self, query: "Query | str", k1: float | None = None,
               b: float | None = None, sim=None) -> float:
        """Score of the document for ``query`` (0.0 when it doesn't
        match, or when no text was added) — ``MemoryIndex.search(Query)``'s
        float contract. String queries go through the classic parser."""
        if not self._parts:
            return 0.0
        if isinstance(query, str):
            query = parse(query,
                          stopwords=self._kwargs.get("stopwords", frozenset()))
        seg = self._segment()
        seg.similarity = sim or BM25Similarity(
            K1_DEFAULT if k1 is None else k1, B_DEFAULT if b is None else b)
        return seg.score(query)

    def matches(self, query: "Query | str") -> bool:
        return self.search(query) > 0.0

    # -- MemoryIndexReader-style introspection ---------------------------
    def freq(self, term: str) -> int:
        """Term frequency of ``term`` in the doc (reader totalTermFreq)."""
        return self._segment().stats.get(term, (0, 0))[1]

    def positions(self, term: str) -> list[int]:
        tp = self._segment().postings(term)
        return [] if tp is None else tp.positions().tolist()

    def terms(self) -> list[str]:
        """The doc's distinct terms, sorted (reader terms enum)."""
        return list(self._segment().stats)

    def reset(self) -> "MemoryIndex":
        """Clear the document for reuse (``MemoryIndex.reset``; like the
        reference, this also unfreezes)."""
        self._parts.clear()
        self._seg = None
        self._frozen = False
        return self
