"""Pure-Python brute-force BM25 reference searcher (the CheckHits oracle).

Deliberately an *independent, simple* implementation of the same semantics
as the distributed engine (reference test strategy: ``test-framework/.../
search/CheckHits.java:158-223`` re-scores hits brute force; we target exact
float32 equality, stricter than CheckHits' 1e-6 tolerance).

Scoring path: same float32 discipline as ``functions/bm25.py`` but written
as plain dict-and-loop code over the tokenized corpus, so a bug in the
engine's codec / shuffle / pruning cannot be mirrored here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .functions.analysis import analyze_text
from .functions.bm25 import (
    K1_DEFAULT, B_DEFAULT, avg_field_length, idf, idf_sum, norm_inverse_cache,
)
from .functions.smallfloat import int_to_byte4
from .plans.query import (And, CommonTerms, DisMax, Interval, MultiTerm,
                          MultiPhrase,
                          Not, Or, Phrase, Query, SpanContaining, SpanFirst,
                          SpanMultiTermWrapper, SpanNear, SpanNot, SpanOr,
                          SpanPositionRange,
                          SpanWithin, Synonym, Term, TermAutomaton)


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _wildcard_match(pattern: str, term: str) -> bool:
    """WildcardQuery's language, kept apart from the engine's matcher:
    ``*`` matches any run of chars, ``?`` any one char, ``\\`` makes the
    next char literal (a trailing ``\\`` is itself literal), and every
    other char is literal. Run as a set-of-positions NFA over the term."""
    toks, i = [], 0  # (char, is_operator)
    while i < len(pattern):
        if pattern[i] == "\\" and i + 1 < len(pattern):
            i += 1
            toks.append((pattern[i], False))
        else:
            toks.append((pattern[i], pattern[i] in "*?"))
        i += 1

    def close(states):
        out = set(states)
        for j in sorted(states):
            while j < len(toks) and toks[j] == ("*", True):
                j += 1
                out.add(j)
        return out

    states = close({0})
    for ch in term:
        nxt = set()
        for j in states:
            if j < len(toks):
                c, op = toks[j]
                if op and c == "*":
                    nxt.add(j)
                elif op or c == ch:
                    nxt.add(j + 1)
        states = close(nxt)
    return len(toks) in states


def _in_range(t: str, lo, hi, lo_inc: bool, hi_inc: bool) -> bool:
    """TermRangeQuery membership; a ``None`` bound is open."""
    return ((lo is None or lo < t or (lo_inc and t == lo))
            and (hi is None or t < hi or (hi_inc and t == hi)))


@dataclass
class OracleIndex:
    """In-memory inverted index over a small corpus."""

    postings: dict[str, list[tuple[int, int, list[int]]]] = field(default_factory=dict)
    norm_bytes: dict[int, int] = field(default_factory=dict)
    doc_count: int = 0
    sum_ttf: int = 0

    @classmethod
    def build(cls, docs: list[tuple[int, str]],
              stopwords: frozenset[str] = frozenset(),
              stemmer: str | None = None,
              synonyms: dict | None = None,
              discount_overlaps: bool = True,
              shingles: tuple | None = None,
              ascii_folding: bool = False,
              common_grams: frozenset | None = None) -> "OracleIndex":
        """docs: list of (doc_id, content) — doc_id is the global tie-break
        id. ``synonyms``/``discount_overlaps`` mirror the engine's
        index-time SynonymGraphFilter: overlap tokens count in
        tf/df/sumTotalTermFreq but are discounted from the norm length by
        default (FieldInvertState numOverlap + BM25 discountOverlaps)."""
        idx = cls()
        for doc_id, content in sorted(docs):
            terms, positions, length = analyze_text(content, stopwords=stopwords,
                                                    stemmer=stemmer,
                                                    ascii_folding=ascii_folding)
            if synonyms:
                from .functions.analysis import expand_synonyms_text
                terms, positions, n_over = expand_synonyms_text(
                    terms, positions, synonyms)
                norm_len = length if discount_overlaps else length + n_over
            elif shingles:
                from .functions.analysis import expand_shingles_text
                terms, positions, n_over = expand_shingles_text(
                    terms, positions, *shingles)
                norm_len = length if discount_overlaps else length + n_over
            elif common_grams:
                from .functions.analysis import expand_common_grams_text
                terms, positions, n_over = expand_common_grams_text(
                    terms, positions, common_grams)
                norm_len = length if discount_overlaps else length + n_over
            else:
                norm_len = length
            per_term: dict[str, list[int]] = {}
            for t, p in zip(terms, positions):
                per_term.setdefault(t, []).append(p)
            for t, plist in per_term.items():
                idx.postings.setdefault(t, []).append((doc_id, len(plist),
                                                       sorted(plist)))
            idx.norm_bytes[doc_id] = int(int_to_byte4(np.array([norm_len]))[0])
            idx.doc_count += 1
            idx.sum_ttf += len(terms)       # every indexed token, overlaps included
        return idx

    # -- stats ------------------------------------------------------------
    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def ttf(self, term: str) -> int:
        return sum(tf for _, tf, _ in self.postings.get(term, ()))

    # -- scoring ----------------------------------------------------------
    def _cache(self, k1: float, b: float, sim=None) -> np.ndarray:
        avgdl = avg_field_length(self.sum_ttf, self.doc_count)
        if sim is not None:
            return sim.norm_cache(avgdl)
        return norm_inverse_cache(avgdl, k1, b)

    def _term_scores(self, term: str, k1: float, b: float,
                     boost: float = 1.0, sim=None) -> dict[int, np.float32]:
        cache = self._cache(k1, b, sim)
        if sim is not None:
            w = sim.weight(self.df(term), self.doc_count, boost,
                           self.ttf(term), self.sum_ttf)
            return {doc_id: np.float32(
                        sim.score(np.array([tf]),
                                  np.array([self.norm_bytes[doc_id]]),
                                  w, cache)[0])
                    for doc_id, tf, _ in self.postings.get(term, ())}
        w = np.float32(boost) * idf(self.df(term), self.doc_count)
        out: dict[int, np.float32] = {}
        one = np.float32(1.0)
        for doc_id, tf, _ in self.postings.get(term, ()):
            inv = cache[self.norm_bytes[doc_id]]
            out[doc_id] = np.float32(w - w / (one + np.float32(tf) * inv))
        return out

    def _synonym_scores(self, terms: list[str], k1: float, b: float,
                        sim=None, boosts=None) -> dict[int, np.float32]:
        """SynonymQuery: one pseudo-term with df = max(df_i), ttf = sum,
        freq = sum of per-doc freqs (reference SynonymQuery.java:196-216
        uses max docFreq; scorer sums freqs per doc)."""
        pseudo_df = max((self.df(t) for t in terms), default=0)
        if pseudo_df == 0:
            return {}
        freqs: dict[int, float] = {}
        if boosts is None:
            boosts = [1.0] * len(terms)
            blend = False
        else:
            blend = True
        for t, bo in zip(terms, boosts):
            for doc_id, tf, _ in self.postings.get(t, ()):
                # blended freq: float32 per-term products, float64 sum
                # (exact), cast at scoring (DisiWrapperFreq.freq())
                add = (float(np.float32(bo) * np.float32(tf)) if blend
                       else tf)
                freqs[doc_id] = freqs.get(doc_id, 0) + add
        cache = self._cache(k1, b, sim)
        if sim is not None:
            pseudo_ttf = sum(self.ttf(t) for t in terms)
            w = sim.weight(pseudo_df, self.doc_count, 1.0,
                           pseudo_ttf, self.sum_ttf)
            return {d: np.float32(
                        sim.score(np.array([f]),
                                  np.array([self.norm_bytes[d]]),
                                  w, cache)[0])
                    for d, f in freqs.items() if f > 0}
        w = idf(pseudo_df, self.doc_count)
        one = np.float32(1.0)
        return {d: np.float32(w - w / (one + np.float32(f) * cache[self.norm_bytes[d]]))
                for d, f in freqs.items() if f > 0}

    def _sloppy_phrase_scores(self, terms: list[str], slop: int,
                              k1: float, b: float,
                              positions=None) -> dict[int, np.float32]:
        """n-term sloppy phrase: the exact SloppyPhraseMatcher walks
        (functions/sloppy.py — pq walk; advanceRpts for duplicate
        clause terms), idf-sum weight (per clause occurrence, the
        PhraseWeight termStats array)."""
        repeats = len(set(terms)) != len(terms)
        maps = [{d: np.asarray(sorted(pl), dtype=np.int64)
                 for d, _, pl in self.postings.get(t, ())}
                for t in terms]
        common = set(maps[0])
        for m in maps[1:]:
            common &= set(m)
        cache = self._cache(k1, b)
        w = idf_sum([self.df(t) for t in terms], self.doc_count)
        one = np.float32(1.0)
        out: dict[int, np.float32] = {}
        for d in common:
            if repeats:
                # duplicate clause terms: the EXACT advanceRpts walk
                # (functions/sloppy.py, golden-pinned vs the compiled
                # reference — sloppy_repeat_fuzz.tsv.gz)
                from .functions.sloppy import lucene_sloppy_repeat_freq
                freq = lucene_sloppy_repeat_freq(
                    [m[d] for m in maps], slop,
                    offsets=list(positions) if positions else None)
            else:
                # OPERATIONAL Lucene matcher (functions/sloppy.py) —
                # the declarative minimal-interval model diverges from
                # SloppyPhraseMatcher on multi-occurrence docs (proven
                # by the real-Lucene differential goldens)
                from .functions.sloppy import lucene_sloppy_freq
                freq = lucene_sloppy_freq([m[d] for m in maps], slop,
                                          offsets=positions)
            if freq > 0:
                inv = cache[self.norm_bytes[d]]
                out[d] = np.float32(w - w / (one + np.float32(freq) * inv))
        return out

    def _span_near_scores(self, query: SpanNear, k1: float,
                          b: float) -> dict[int, np.float32]:
        """SpanNearQuery: the exact NearSpansOrdered/Unordered ports
        (functions/nearspans.py via functions.spans.span_near_freq),
        idf-sum weight like phrases."""
        from .functions.spans import span_near_freq
        maps = [{d: np.asarray(sorted(pl), dtype=np.int64)
                 for d, _, pl in self.postings.get(t, ())}
                for t in query.terms]
        if any(not m for m in maps):
            return {}
        common = set(maps[0])
        for m in maps[1:]:
            common &= set(m)
        cache = self._cache(k1, b)
        # SpanWeight termStates Map: duplicate clause terms idf ONCE
        w = idf_sum([self.df(t) for t in dict.fromkeys(query.terms)],
                    self.doc_count)
        one = np.float32(1.0)
        out: dict[int, np.float32] = {}
        for d in common:
            # exact NearSpans ports handle duplicate clause terms too
            # (two iterators over one stream; heap tie order faithful)
            f = span_near_freq([m[d] for m in maps], query.slop,
                               query.in_order)
            if f > 0:
                inv = cache[self.norm_bytes[d]]
                out[d] = np.float32(w - w / (one + np.float32(f) * inv))
        return out

    def _span_tree_scores(self, query, k1: float,
                          b: float) -> dict[int, np.float32]:
        """SpanOr/SpanNot/SpanFirst: shared span-algebra evaluator
        (functions.spans.eval_span_tree); idf-sum weight over POSITIVE
        leaf terms only (SpanNotQuery.java:117)."""
        from .functions.spans import (eval_span_tree, span_tree_terms,
                                      spans_freq)
        from .operators.search import _span_tree
        ctree = _span_tree(self._resolve_span(query))
        terms = list(dict.fromkeys(span_tree_terms(ctree)))
        pos_terms = [t for t in
                     dict.fromkeys(span_tree_terms(ctree, positive_only=True))
                     if self.df(t) > 0]
        if not pos_terms:
            return {}
        maps = {t: {d: np.asarray(sorted(pl), dtype=np.int64)
                    for d, _, pl in self.postings.get(t, ())}
                for t in terms}
        cache = self._cache(k1, b)
        w = idf_sum([self.df(t) for t in pos_terms], self.doc_count)
        one = np.float32(1.0)
        cand: set = set()
        for t in terms:
            cand |= set(maps[t])
        empty = np.empty(0, np.int64)
        out: dict[int, np.float32] = {}
        for d in cand:
            pmap = {t: maps[t].get(d, empty) for t in terms}
            f = spans_freq(eval_span_tree(ctree, pmap))
            if f > 0:
                inv = cache[self.norm_bytes[d]]
                out[d] = np.float32(w - w / (one + np.float32(f) * inv))
        return out

    def _interval_scores(self, query) -> dict[int, np.float32]:
        """IntervalQuery: shared batched minimal-interval evaluator
        (functions.intervals) over doc-major global keys — the same code
        path as the engine kernel, so equality is exact; score is the
        saturation function, independent of norms/similarity."""
        from .functions.intervals import (batch_interval_freqs,
                                          eval_intervals,
                                          interval_tree_terms, min_extent,
                                          saturation_scores)
        from .functions.intervals import resolve_multi_term_sources

        def _expander(kind, value):
            keys = sorted(self.postings)
            if kind == "prefix":
                return [t for t in keys if t.startswith(str(value))]
            if kind == "fuzzy":
                base, edits = str(value[0]), int(value[1])
                return [t for t in keys
                        if _levenshtein(t, base) <= edits]
            return [t for t in keys if _wildcard_match(str(value), t)]

        tree = resolve_multi_term_sources(query.tree, _expander)
        query = type(query)(tree, query.pivot, query.boost)
        terms = list(dict.fromkeys(interval_tree_terms(query.tree)))
        BIG = np.int64(1) << np.int64(32)
        pmap = {}
        for t in terms:
            rows = sorted(self.postings.get(t, ()))
            keys = [np.int64(d) * BIG + np.asarray(sorted(pl), np.int64)
                    for d, _, pl in rows]
            pmap[t] = (np.concatenate(keys) if keys
                       else np.empty(0, np.int64))
        n_docs = max(self.norm_bytes) + 1 if self.norm_bytes else 0
        iv = eval_intervals(query.tree, pmap)
        freqs = batch_interval_freqs(iv, min_extent(query.tree), n_docs)
        hit = np.nonzero(freqs > 0)[0]
        s = saturation_scores(freqs[hit], query.pivot, query.boost)
        return {int(d): np.float32(v) for d, v in zip(hit, s)}

    def _resolve_span(self, q):
        """Expand SpanMultiTermWrapper leaves against this oracle's own
        dictionary (SpanMultiTermQueryWrapper rewrite role)."""
        if isinstance(q, SpanMultiTermWrapper):
            terms = sorted(self.postings)
            mt = q.query
            if mt.kind == "prefix":
                hit = [t for t in terms if t.startswith(str(mt.value))]
            elif mt.kind == "wildcard":
                hit = [t for t in terms if _wildcard_match(str(mt.value), t)]
            elif mt.kind == "fuzzy":
                hit = [t for t in terms
                       if _levenshtein(t, str(mt.value)) <= mt.edits]
            elif mt.kind == "range":
                hit = [t for t in terms if _in_range(t, *mt.value)]
            else:
                raise ValueError(mt.kind)
            return SpanOr(tuple(Term(t) for t in hit))
        if isinstance(q, SpanNear) and \
                not all(isinstance(t, str) for t in q.terms):
            return SpanNear(tuple(t if isinstance(t, str)
                                  else self._resolve_span(t)
                                  for t in q.terms), q.slop, q.in_order)
        if isinstance(q, SpanOr):
            return SpanOr(tuple(self._resolve_span(c) for c in q.clauses))
        if isinstance(q, SpanNot):
            return SpanNot(self._resolve_span(q.include),
                           self._resolve_span(q.exclude), q.pre, q.post)
        if isinstance(q, SpanFirst):
            return SpanFirst(self._resolve_span(q.match), q.end)
        if isinstance(q, SpanPositionRange):
            return SpanPositionRange(self._resolve_span(q.match),
                                     q.start, q.end)
        if isinstance(q, SpanContaining):
            return SpanContaining(self._resolve_span(q.big),
                                  self._resolve_span(q.little))
        if isinstance(q, SpanWithin):
            return SpanWithin(self._resolve_span(q.little),
                              self._resolve_span(q.big))
        return q

    def _phrase_scores(self, terms: list[str], k1: float, b: float,
                       positions=None) -> dict[int, np.float32]:
        """Exact phrase: all terms at consecutive positions; tf = match count;
        idf = sum of per-term idfs (reference PhraseWeight/idfExplain[])."""
        if not terms:
            return {}
        maps = [{d: set(pl) for d, _, pl in self.postings.get(t, ())} for t in terms]
        common = set(maps[0])
        for m in maps[1:]:
            common &= set(m)
        cache = self._cache(k1, b)
        w = idf_sum([self.df(t) for t in terms], self.doc_count)
        one = np.float32(1.0)
        out: dict[int, np.float32] = {}
        deltas = ([p - positions[0] for p in positions] if positions
                  else list(range(len(terms))))
        for d in common:
            starts = maps[0][d]
            freq = sum(1 for p in starts
                       if all((p + deltas[i]) in maps[i][d]
                              for i in range(1, len(terms))))
            if freq:
                inv = cache[self.norm_bytes[d]]
                out[d] = np.float32(w - w / (one + np.float32(freq) * inv))
        return out

    def _multi_phrase_scores(self, slots, k1: float, b: float,
                             positions=None) -> dict[int, np.float32]:
        """MultiPhraseQuery: per position, the UNION of the alternative
        terms' position sets (UnionPostingsEnum); idf summed over every
        df>0 term across positions (MultiPhraseWeight stats, per
        occurrence across slots)."""
        offs = list(positions) if positions else list(range(len(slots)))
        maps: list[dict[int, set]] = []
        present: list[str] = []
        for slot in slots:
            m: dict[int, set] = {}
            any_term = False
            for t in dict.fromkeys(slot):
                if self.df(t) == 0:
                    continue
                any_term = True
                present.append(t)
                for d, _, pl in self.postings.get(t, ()):
                    m.setdefault(d, set()).update(pl)
            if not any_term:
                return {}
            maps.append(m)
        common = set(maps[0])
        for m in maps[1:]:
            common &= set(m)
        cache = self._cache(k1, b)
        w = idf_sum([self.df(t) for t in present], self.doc_count)
        one = np.float32(1.0)
        out: dict[int, np.float32] = {}
        for d in common:
            freq = sum(1 for p in maps[0][d]
                       if all((p + offs[i] - offs[0]) in maps[i][d]
                              for i in range(1, len(maps))))
            if freq:
                inv = cache[self.norm_bytes[d]]
                out[d] = np.float32(w - w / (one + np.float32(freq) * inv))
        return out

    def _sloppy_multi_phrase_scores(self, slots, slop: int, k1: float,
                                    b: float, positions=None
                                    ) -> dict[int, np.float32]:
        """Sloppy MultiPhraseQuery — the per-doc SloppyPhraseMatcher
        port over multi-term union streams incl. the hasMultiTermRpts
        machinery (functions/sloppy.py
        lucene_sloppy_multiphrase_freq, golden-pinned against the
        compiled reference)."""
        from .functions.sloppy import lucene_sloppy_multiphrase_freq
        present: list[str] = []
        docsets = None
        pos_by_doc: dict[int, dict[str, list]] = {}
        seen_terms: set[str] = set()
        for slot in slots:
            slot_docs = set()
            any_term = False
            for t in dict.fromkeys(slot):
                if self.df(t) == 0:
                    continue
                any_term = True
                present.append(t)      # weight: PER OCCURRENCE
                for d, _, pl in self.postings.get(t, ()):
                    slot_docs.add(d)
                    if t not in seen_terms:
                        # positions: once per DISTINCT term (a term
                        # shared by two slots reads one postings list)
                        pos_by_doc.setdefault(d, {}).setdefault(
                            t, []).extend(pl)
            seen_terms.update(slot)
            if not any_term:
                return {}
            docsets = slot_docs if docsets is None else \
                (docsets & slot_docs)
        offs = list(positions) if positions else list(range(len(slots)))
        pruned = [tuple(t for t in dict.fromkeys(s) if self.df(t) > 0)
                  for s in slots]
        cache = self._cache(k1, b)
        w = idf_sum([self.df(t) for t in present], self.doc_count)
        one = np.float32(1.0)
        out: dict[int, np.float32] = {}
        for d in sorted(docsets or ()):
            pm = {t: sorted(v) for t, v in pos_by_doc[d].items()}
            freq = lucene_sloppy_multiphrase_freq(pruned, pm, slop,
                                                  offsets=offs)
            if freq > 0.0:
                inv = cache[self.norm_bytes[d]]
                out[d] = np.float32(w - w / (one + np.float32(freq)
                                             * inv))
        return out

    def score(self, query: Query, k1: float = K1_DEFAULT,
              b: float = B_DEFAULT, sim=None) -> dict[int, np.float32]:
        """All matching docs with their float32 scores.

        Boolean semantics: SHOULD/MUST clause scores are accumulated in
        float64 and cast to float32 at the end (reference
        DisjunctionSumScorer / ConjunctionScorer sum in double).
        """
        if isinstance(query, Term):
            return self._term_scores(query.term, k1, b, query.boost, sim)
        if isinstance(query, Synonym):
            return self._synonym_scores(list(query.terms), k1, b, sim,
                                        boosts=query.boosts)
        if isinstance(query, Phrase):
            if len(query.terms) == 1:
                # PhraseQuery.rewrite: a one-term phrase is a TermQuery
                return self._term_scores(query.terms[0], k1, b, sim=sim)
            if query.slop > 0:
                return self._sloppy_phrase_scores(list(query.terms),
                                                  query.slop, k1, b,
                                                  query.positions)
            return self._phrase_scores(list(query.terms), k1, b,
                                       query.positions)
        if isinstance(query, MultiPhrase):
            slots = []
            for slot in query.slots:
                flat: list[str] = []
                for e in slot:
                    if isinstance(e, str):
                        flat.append(e)
                    else:
                        # multiterm slot entry: expand against this
                        # oracle's own dictionary (same sorted order as
                        # the engine's term_stats expansion)
                        keys = sorted(self.postings)
                        if e[0] == "prefix":
                            flat.extend(t for t in keys
                                        if t.startswith(str(e[1])))
                        elif e[0] == "wildcard":
                            flat.extend(t for t in keys
                                        if _wildcard_match(str(e[1]), t))
                        else:
                            raise ValueError(e[0])
                slots.append(tuple(dict.fromkeys(flat)))
            if getattr(query, "slop", 0) > 0:
                return self._sloppy_multi_phrase_scores(
                    slots, query.slop, k1, b,
                    getattr(query, "positions", None))
            return self._multi_phrase_scores(
                slots, k1, b, getattr(query, "positions", None))
        if isinstance(query, SpanNear):
            if all(isinstance(t, str) for t in query.terms):
                return self._span_near_scores(query, k1, b)
            return self._span_tree_scores(query, k1, b)
        if isinstance(query, (SpanOr, SpanNot, SpanFirst,
                              SpanPositionRange,
                              SpanContaining, SpanWithin,
                              SpanMultiTermWrapper)):
            return self._span_tree_scores(query, k1, b)
        if isinstance(query, Interval):
            return self._interval_scores(query)
        if isinstance(query, CommonTerms):
            import math
            mtf = query.max_term_frequency
            thr = (int(math.ceil(mtf * self.doc_count)) if mtf < 1.0
                   else int(mtf))
            low = [t for t in query.terms if self.df(t) <= thr]
            high = [t for t in query.terms if self.df(t) > thr]
            if not low:
                return self.score(And(tuple(Term(t) for t in high)),
                                  k1, b, sim)
            if not high:
                return self.score(Or(tuple(Term(t) for t in low),
                                     query.low_msm), k1, b, sim)
            req = self.score(Or(tuple(Term(t) for t in low),
                                query.low_msm), k1, b, sim)
            opt = self.score(Or(tuple(Term(t) for t in high),
                                query.high_msm), k1, b, sim)
            # ReqOptSumScorer: required match set, optional score added
            return {d: np.float32(float(s) + float(opt.get(d, 0.0)))
                    for d, s in req.items()}
        if isinstance(query, TermAutomaton):
            from .functions.automaton import run_term_automaton
            concrete = sorted({t for _, _, t in query.transitions
                               if t is not None and self.df(t) > 0})
            if not concrete:
                return {}
            tid = {t: i for i, t in enumerate(concrete)}
            trans: dict = {}
            anyt: dict = {}
            for frm, to, t in query.transitions:
                if t is None:
                    anyt.setdefault(int(frm), []).append(int(to))
                elif t in tid:
                    trans.setdefault((int(frm), tid[t]), []).append(int(to))
            trans = {kk: tuple(v) for kk, v in trans.items()}
            anyt = {kk: tuple(v) for kk, v in anyt.items()}
            accepts = frozenset(int(a) for a in query.accepts)
            per_doc: dict[int, list] = {}
            for t in concrete:
                for doc, _tf, plist in self.postings.get(t, ()):
                    per_doc.setdefault(doc, []).extend(
                        (p, tid[t]) for p in plist)
            cache = self._cache(k1, b)
            w = idf_sum([self.df(t) for t in concrete], self.doc_count)
            one = np.float32(1.0)
            out: dict[int, np.float32] = {}
            for d, toks in per_doc.items():
                toks.sort()
                f = run_term_automaton(
                    np.array([p for p, _ in toks], dtype=np.int64),
                    np.array([ti for _, ti in toks], dtype=np.int64),
                    trans, anyt, accepts)
                if f > 0:
                    inv = cache[self.norm_bytes[d]]
                    out[d] = np.float32(w - w / (one + np.float32(f) * inv))
            return out
        if isinstance(query, MultiTerm):
            terms = sorted(self.postings)
            if query.kind == "prefix":
                hit = [t for t in terms if t.startswith(str(query.value))]
            elif query.kind == "wildcard":
                hit = [t for t in terms
                       if _wildcard_match(str(query.value), t)]
            elif query.kind == "fuzzy":
                hit = [t for t in terms
                       if _levenshtein(t, str(query.value)) <= query.edits]
            elif query.kind == "regexp":
                import re as _re
                pat = _re.compile(str(query.value))
                hit = [t for t in terms if pat.fullmatch(t)]
            elif query.kind == "range":
                hit = [t for t in terms if _in_range(t, *query.value)]
            else:
                raise ValueError(query.kind)
            if query.kind == "fuzzy" and getattr(query, "scored", False):
                # TopTermsBlendedFreqScoringRewrite: df = max over the
                # expansion, per-term fuzzy boost, SHOULD sum
                base = str(query.value)
                pairs = []
                for t in hit:
                    d = _levenshtein(t, base)
                    bo = 1.0 if d == 0 else float(
                        np.float32(1.0) - np.float32(d)
                        / np.float32(min(len(t), len(base))))
                    pairs.append((t, bo))
                if not pairs:
                    return {}
                bdf = max(self.df(t) for t, _ in pairs)
                cache = self._cache(k1, b)
                one = np.float32(1.0)
                acc: dict[int, float] = {}
                for t, bo in pairs:
                    w = np.float32(
                        np.float32(np.float32(bo) * np.float32(query.boost))
                        * idf(bdf, self.doc_count))
                    for doc_id, tf, _ in self.postings[t]:
                        inv = cache[self.norm_bytes[doc_id]]
                        s = np.float32(w - w / (one + np.float32(tf) * inv))
                        acc[doc_id] = acc.get(doc_id, 0.0) + float(s)
                return {d: np.float32(s) for d, s in acc.items()}
            docs = {d for t in hit for d, _, _ in self.postings[t]}
            w = np.float32(query.boost)
            return {d: w for d in docs}
        if isinstance(query, Or):
            acc: dict[int, float] = {}
            hits: dict[int, int] = {}
            for clause in query.clauses:
                for d, s in self.score(clause, k1, b, sim).items():
                    acc[d] = acc.get(d, 0.0) + float(s)
                    hits[d] = hits.get(d, 0) + 1
            msm = max(query.min_should_match, 1)
            return {d: np.float32(s) for d, s in acc.items()
                    if hits[d] >= msm}
        if isinstance(query, And):
            per = [self.score(c, k1, b, sim) for c in query.clauses]
            common = set(per[0])
            for m in per[1:]:
                common &= set(m)
            return {d: np.float32(sum(float(m[d]) for m in per)) for d in common}
        if isinstance(query, DisMax):
            per = [self.score(c, k1, b, sim) for c in query.clauses]
            out: dict[int, np.float32] = {}
            for d in set().union(*per):
                vals = [float(m[d]) for m in per if d in m]
                smax = max(vals)
                out[d] = np.float32(smax + (sum(vals) - smax)
                                    * float(np.float32(query.tie_breaker)))
            return out
        if isinstance(query, Not):
            pos = self.score(query.positive, k1, b, sim)
            neg = self.score(query.negative, k1, b, sim)
            return {d: s for d, s in pos.items() if d not in neg}
        from .plans.query import ReqFilter
        if isinstance(query, ReqFilter):
            pos = self.score(query.positive, k1, b, sim)
            filt = self.score(query.filter, k1, b, sim)
            return {d: s for d, s in pos.items() if d in filt}
        from .plans.query import ReqOpt
        if isinstance(query, ReqOpt):
            req = self.score(query.required, k1, b, sim)
            opt = self.score(query.optional, k1, b, sim)
            # ReqOptSumScorer: required match set, optional score added
            return {d: np.float32(float(s) + float(opt.get(d, 0.0)))
                    for d, s in req.items()}
        raise TypeError(f"unsupported query: {query!r}")

    def top_k(self, query: Query, k: int = 10, k1: float = K1_DEFAULT,
              b: float = B_DEFAULT, sim=None) -> list[tuple[int, float]]:
        """Top-k by (score desc, doc_id asc) — the reference tie-break
        (HitQueue.java:78-84)."""
        scores = self.score(query, k1, b, sim)
        ranked = sorted(scores.items(), key=lambda kv: (-float(kv[1]), kv[0]))
        return [(d, float(s)) for d, s in ranked[:k]]
