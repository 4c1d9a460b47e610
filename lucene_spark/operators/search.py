"""Query read path: distributed BM25 top-k over the segment tables.

Spark shape (SURVEY.md §3.2): global term statistics are read on the
driver from the precomputed ``term_stats`` dictionary, pushed down to the
query's terms (the reference aggregates df/ttf across all leaves at
weight creation: ``index/TermStates.java:99,184-190``); one Spark job then
fans out over segment ids with no shuffle, and each task takes its own
segments' postings rows for the query's terms, and their norms, from the
segment readers its Python worker keeps open across queries
(``operators/segreader.py``, the reference's ``SegmentReader``). A
vectorized kernel per segment scores and collects a local top-k with the
exact reference tie-break (score desc, docID asc:
``search/HitQueue.java:78-84``); the driver merges the ≤ k·S candidates
with the same tie-break (postings never move at query time; reference
merge: ``search/TopDocs.java:71-90``).

Two execution strategies, mirroring Boolean scorer selection
(``search/Boolean2ScorerSupplier.java:141-244``):

  * ``exhaustive`` — decode + score every posting (the correctness oracle,
    like DisjunctionSumScorer / exhaustive BooleanScorer).
  * ``bmw`` — block-max pruning: per 128-doc block impact frontiers give
    per-block score upper bounds (``search/MaxScoreCache.java:58-64``);
    windows of the docID space are processed in descending upper-bound
    order and scoring stops when no remaining window can beat the k-th
    collected score (Ding & Suel block-max WAND adapted to vectorized
    window-at-a-time execution; the collector-feedback loop is
    ``search/TopScoreDocCollector.java:90-107`` + ``ImpactsDISI:61-77``).
    Blocks in never-visited windows are never bit-unpacked.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import cached_property, reduce

import numpy as np
import pandas as pd

from ..functions import bm25
from ..functions.codec import TermSegPostings, check_codec_version
from ..functions.similarity import BM25Similarity, Similarity
from ..functions.smallfloat import LENGTH_TABLE
from ..plans import query as Q
from ..plans.parser import parse as parse_query
from ..sources.catalog import SnapshotCatalog

WINDOW = 4096  # BooleanScorer windows are 2048 docs (BooleanScorer.java:29-36)


# ---------------------------------------------------------------------------
# Compiled (weighted) query tree — created on the driver with GLOBAL stats
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class CTerm:
    term: str
    weight: np.float32


@dataclass(frozen=True)
class CSynonym:
    terms: tuple[str, ...]
    weight: np.float32
    boosts: tuple[float, ...] | None = None


@dataclass(frozen=True)
class CMultiPhrase:
    """Phrase and MultiPhrase: a Phrase compiles to one-term slots.
    positions is None for the consecutive default, else the builder's
    explicit strictly-increasing slot positions (PhraseQuery.java:103)."""
    slots: tuple[tuple[str, ...], ...]   # df>0 terms only, per position
    weight: np.float32
    slop: int = 0
    positions: tuple[int, ...] | None = None

    @property
    def terms(self):
        return tuple(dict.fromkeys(t for s in self.slots for t in s))


@dataclass(frozen=True)
class CSpanTree:
    """Compiled span query (SpanNear, SpanOr, SpanNot, SpanFirst, … over
    term and near leaves): ``tree`` is the nested-tuple grammar of
    ``functions.spans.eval_span_tree``; ``weight`` is the idf-sum over the
    POSITIVE leaf terms (exclude sides contribute no stats, matching
    ``SpanNotQuery.java:117``)."""
    tree: tuple
    weight: np.float32


@dataclass(frozen=True)
class CReqOpt:
    """ReqOptSumScorer (reference ``search/ReqOptSumScorer.java``): the
    match set is the REQUIRED child's; the optional child's score is
    added on docs where both match. The CommonTermsQuery rewrite
    compiles onto this node."""
    required: "object"
    optional: "object"


@dataclass(frozen=True)
class CPayloadScore:
    """Compiled PayloadScoreQuery (term-wrapped, includeSpanScore=false):
    per-doc score = boost × func over the term's position payloads."""
    term: str
    func: str = "sum"
    boost: float = 1.0


@dataclass(frozen=True)
class CTermAutomaton:
    """Compiled TermAutomatonQuery: ``terms`` are the df>0 concrete
    labels (tids = indices); ``trans`` maps (state, tid) → targets,
    ``any_trans`` maps state → targets for ANY arcs; path-count freq per
    doc scored with the idf-sum weight (TermAutomatonWeight's
    allTermStats)."""
    terms: tuple
    weight: object
    trans: tuple          # ((state, tid, (targets...)), ...)
    any_trans: tuple      # ((state, (targets...)), ...)
    accepts: frozenset


@dataclass(frozen=True)
class CPayloadCheck:
    """Compiled SpanPayloadCheckQuery: exact-phrase chain over
    payload-filtered position streams."""
    terms: tuple
    payloads: tuple
    weight: object


@dataclass(frozen=True)
class CInterval:
    """Compiled IntervalQuery (reference ``queries/intervals/
    IntervalQuery.java:59``): ``tree`` is the nested-tuple grammar of
    ``functions.intervals.eval_intervals``; scoring is the saturation
    function ``boost * (1 - pivot/(pivot + freq))`` over the minimal
    intervals' sloppy freq — independent of the similarity/norms, unlike
    every other scored node."""
    tree: tuple
    minext: int
    pivot: float = 1.0
    boost: float = 1.0


@dataclass(frozen=True)
class COr:
    children: tuple
    min_should_match: int = 0


@dataclass(frozen=True)
class _ResolvedMultiTerm(Q.Query):
    """MultiTerm after dictionary expansion (internal, produced by
    Searcher._resolve before compilation)."""
    terms: tuple[str, ...]
    boost: float = 1.0

    def all_terms(self):
        return list(self.terms)


@dataclass(frozen=True)
class _BlendedTerms(Q.Query):
    """Fuzzy expansion with per-term boosts, scored with BLENDED stats
    (BlendedTermQuery: df = max over terms, ttf = sum —
    ``search/BlendedTermQuery.java:280-291``; per-term boost from
    FuzzyTermsEnum ``1 - ed/minTermLength``, ``FuzzyTermsEnum.java:
    248-255``; combined as SHOULD sum via BOOLEAN_REWRITE)."""
    terms: tuple[str, ...]
    boosts: tuple[float, ...]
    boost: float = 1.0

    def all_terms(self):
        return list(self.terms)


@dataclass(frozen=True)
class _FixedStatsTerms(Q.Query):
    """Terms scored with ARTIFICIAL df=1/ttf=1 stats and per-term boosts
    (FuzzyLikeThisQuery's ``newTermQuery`` synthetic TermStates,
    ``sandbox/queries/FuzzyLikeThisQuery.java:183-200``) — every variant
    shares the rarest-possible idf; ranking differences come only from
    the boosts and tf/norms. SHOULD sum."""
    terms: tuple[str, ...]
    boosts: tuple[float, ...]

    def all_terms(self):
        return list(self.terms)


@dataclass(frozen=True)
class CIndriAnd:
    """Compiled IndriAndQuery: union iteration with per-clause smoothing
    (``search/IndriAndScorer.java:15-41``)."""
    terms: tuple
    weights: tuple
    boosts: tuple


@dataclass(frozen=True)
class CAnd:
    children: tuple


@dataclass(frozen=True)
class CNot:
    positive: object
    negative: object


@dataclass(frozen=True)
class CReqFilter:
    """FILTER clause: required match set, score discarded
    (BooleanWeight's non-scoring conjunct)."""
    positive: object
    filter: object


@dataclass(frozen=True)
class CDisMax:
    children: tuple
    tie_breaker: float = 0.0


@dataclass(frozen=True)
class CConstTerms:
    """Constant-score union of expanded terms (MultiTermQuery's default
    CONSTANT_SCORE rewrite: every matching doc scores ``weight``)."""
    terms: tuple[str, ...]
    weight: np.float32


def compile_query(q: Q.Query, term_dfs: dict[str, int], doc_count: int,
                  sim: Similarity | None = None,
                  term_ttfs: dict[str, int] | None = None,
                  sum_ttf: int = 0):
    """Attach float32 weights using GLOBAL df/docCount. Terms absent from
    the index produce no scorer (Lucene skips them); an AND with a missing
    term matches nothing (returns None to signal that). ``sim`` selects
    the scoring strategy (Similarity extension point); default BM25.
    ``term_ttfs``/``sum_ttf`` feed similarities with ``needs_ttf`` (the
    LM family's collection model)."""
    sim = sim or BM25Similarity()
    term_ttfs = term_ttfs or {}

    def df_of(t: str) -> int:
        return term_dfs.get(t, 0)

    def ttf_of(t: str) -> int:
        return term_ttfs.get(t, 0)

    def multi_weight(dfs_list) -> np.float32:
        # phrase weight: per-term float32 weights summed in float64, cast
        # (generalizes BM25's idf_sum to any similarity). Only valid when
        # score is weight-multiplicative.
        if not sim.weight_linear:
            raise NotImplementedError(
                f"phrase scoring not supported for similarity {sim.name!r}"
                " (non-weight-linear; the reference would use"
                " MultiSimScorer sub-score summation)")
        total = np.float64(0.0)
        for df in dfs_list:
            total += np.float64(sim.weight(df, doc_count))
        return np.float32(total)

    def go(node):
        if isinstance(node, Q.Term):
            if df_of(node.term) == 0:
                return None
            return CTerm(node.term,
                         sim.weight(df_of(node.term), doc_count, node.boost,
                                    ttf_of(node.term), sum_ttf))
        if isinstance(node, Q.Synonym):
            boosts = node.boosts
            if boosts is not None:
                if len(boosts) != len(node.terms):
                    raise ValueError("synonym boosts must be one per term")
                if any(not (0.0 < b <= 1.0) for b in boosts):
                    raise ValueError(
                        "boost must be a positive float between 0 "
                        "(exclusive) and 1 (inclusive)")
                pairs = [(t, float(b)) for t, b in zip(node.terms, boosts)
                         if df_of(t) > 0]
                present = tuple(t for t, _ in pairs)
                boosts = tuple(b for _, b in pairs)
            else:
                present = tuple(t for t in node.terms if df_of(t) > 0)
            if not present:
                return None
            # SynonymQuery pseudo-term stats: df = max, ttf = sum —
            # UNboosted (reference SynonymQuery.java:196-216)
            pseudo_df = max(df_of(t) for t in present)
            pseudo_ttf = sum(ttf_of(t) for t in present)
            return CSynonym(present, sim.weight(pseudo_df, doc_count, 1.0,
                                                pseudo_ttf, sum_ttf),
                            boosts)
        if isinstance(node, Q.Phrase):
            if any(df_of(t) == 0 for t in node.terms):
                return None
            pos = node.positions
            if pos is not None:
                if len(pos) != len(node.terms) or \
                        any(pos[i + 1] <= pos[i]
                            for i in range(len(pos) - 1)):
                    raise ValueError(
                        "phrase positions must be strictly increasing, "
                        "one per term")
                pos = tuple(int(p) for p in pos)
            w = multi_weight([df_of(t) for t in node.terms])
            return CMultiPhrase(tuple((t,) for t in node.terms), w,
                                node.slop, pos)
        if isinstance(node, Q.MultiPhrase):
            # reference MultiPhraseWeight: terms with df == 0 are
            # skipped from stats AND matching; an all-absent position
            # can never match (empty UnionPostingsEnum)
            slots = tuple(tuple(t for t in dict.fromkeys(slot)
                                if df_of(t) > 0) for slot in node.slots)
            if any(not slot for slot in slots):
                return None
            pos = getattr(node, "positions", None)
            if pos is not None:
                if len(pos) != len(slots) or \
                        any(pos[i + 1] <= pos[i]
                            for i in range(len(pos) - 1)):
                    raise ValueError(
                        "multiphrase positions must be strictly "
                        "increasing, one per slot")
                pos = tuple(int(p) for p in pos)
            w = multi_weight([df_of(t) for slot in slots for t in slot])
            return CMultiPhrase(slots, w, getattr(node, "slop", 0), pos)
        if isinstance(node, Q.SpanPayloadCheck):
            if len(node.terms) != len(node.payloads):
                raise ValueError("one payload slot per term")
            if len(set(node.terms)) != len(node.terms):
                raise NotImplementedError(
                    "SpanPayloadCheck with duplicate clause terms")
            if any(df_of(t) == 0 for t in node.terms):
                return None
            w = multi_weight([df_of(t) for t in node.terms])
            return CPayloadCheck(tuple(node.terms),
                                 tuple(node.payloads), w)
        if isinstance(node, Q.TermAutomaton):
            concrete = sorted({t for _, _, t in node.transitions
                               if t is not None and df_of(t) > 0})
            if not concrete:
                return None        # no involved term → scorer sees no docs
            tid = {t: i for i, t in enumerate(concrete)}
            tr: dict = {}
            anyt: dict = {}
            for frm, to, t in node.transitions:
                if t is None:
                    anyt.setdefault(int(frm), []).append(int(to))
                elif t in tid:
                    tr.setdefault((int(frm), tid[t]), []).append(int(to))
            w = multi_weight([df_of(t) for t in concrete])
            return CTermAutomaton(
                tuple(concrete), w,
                tuple((k[0], k[1], tuple(v)) for k, v in sorted(tr.items())),
                tuple((k, tuple(v)) for k, v in sorted(anyt.items())),
                frozenset(int(a) for a in node.accepts))
        if isinstance(node, (Q.SpanOr, Q.SpanNot, Q.SpanFirst,
                             Q.SpanPositionRange,
                             Q.SpanContaining, Q.SpanWithin, Q.SpanNear)):
            from ..functions.spans import span_tree_terms
            tree = _span_tree(node)
            if tree[0] == "near" and any(df_of(t) == 0 for t in tree[1]):
                return None    # a flat SpanNear needs every term
            # SpanWeight.buildSimWeight keys termStates by TERM (a Map)
            # — duplicate clause terms contribute idf ONCE, unlike
            # PhraseWeight's per-occurrence array (differential q97-q100)
            pos = [t for t in
                   dict.fromkeys(span_tree_terms(tree, positive_only=True))
                   if df_of(t) > 0]
            if not pos:
                return None
            return CSpanTree(tree, multi_weight([df_of(t) for t in pos]))
        if isinstance(node, Q.Interval):
            from ..functions.intervals import (interval_tree_terms,
                                               min_extent)
            terms = dict.fromkeys(interval_tree_terms(node.tree))
            if not any(df_of(t) > 0 for t in terms):
                return None
            return CInterval(node.tree, min_extent(node.tree),
                             node.pivot, node.boost)
        if isinstance(node, Q.PayloadScore):
            if df_of(node.term) == 0:
                return None
            if node.func not in ("min", "max", "sum", "avg"):
                raise ValueError(f"unknown payload function {node.func!r}")
            return CPayloadScore(node.term, node.func, node.boost)
        if isinstance(node, Q.ReqOpt):
            req = go(node.required)
            if req is None:
                return None
            opt = go(node.optional)
            return req if opt is None else CReqOpt(req, opt)
        if isinstance(node, Q.CommonTerms):
            import math
            mtf = node.max_term_frequency
            thr = (int(math.ceil(mtf * doc_count)) if mtf < 1.0
                   else int(mtf))
            low = [t for t in node.terms if df_of(t) <= thr]
            high = [t for t in node.terms if df_of(t) > thr]
            if not low:
                return go(Q.And(tuple(Q.Term(t) for t in high)))
            if not high:
                return go(Q.Or(tuple(Q.Term(t) for t in low),
                               node.low_msm))
            req = go(Q.Or(tuple(Q.Term(t) for t in low), node.low_msm))
            opt = go(Q.Or(tuple(Q.Term(t) for t in high), node.high_msm))
            if req is None:
                return None
            return req if opt is None else CReqOpt(req, opt)
        if isinstance(node, _BlendedTerms):
            pairs = [(t, b) for t, b in zip(node.terms, node.boosts)
                     if df_of(t) > 0]
            if not pairs:
                return None
            # blended stats: df = max, ttf = sum over the expansion
            # (BlendedTermQuery.java:280-291), then one SHOULD per term
            # with its fuzzy boost (BOOLEAN_REWRITE sum)
            bdf = max(df_of(t) for t, _ in pairs)
            bttf = sum(ttf_of(t) for t, _ in pairs)
            kids = tuple(
                CTerm(t, sim.weight(bdf, doc_count,
                                    float(np.float32(np.float32(b)
                                          * np.float32(node.boost))),
                                    bttf, sum_ttf))
                for t, b in pairs)
            return kids[0] if len(kids) == 1 else COr(kids)
        if isinstance(node, Q.IndriAnd):
            if sim.name != "indri_dirichlet":
                raise NotImplementedError(
                    "IndriAndQuery requires the IndriDirichlet similarity"
                    " (the reference's IndriAndWeight builds IndriScorers)")
            boosts = node.boosts or tuple(1.0 for _ in node.terms)
            if len(boosts) != len(node.terms):
                raise ValueError("boosts must be one per term")
            # absent terms produce no scorer → excluded from boostSum
            # (IndriAndWeight skips null scorers)
            trip = [(t, sim.weight(df_of(t), doc_count, 1.0,
                                   ttf_of(t), sum_ttf), float(b))
                    for t, b in zip(node.terms, boosts) if df_of(t) > 0]
            if not trip:
                return None
            return CIndriAnd(tuple(t for t, _, _ in trip),
                             tuple(w for _, w, _ in trip),
                             tuple(b for _, _, b in trip))
        if isinstance(node, _FixedStatsTerms):
            kids = tuple(
                CTerm(t, sim.weight(1, doc_count, float(b), 1, sum_ttf))
                for t, b in zip(node.terms, node.boosts)
                if df_of(t) > 0)
            if not kids:
                return None
            return kids[0] if len(kids) == 1 else COr(kids)
        if isinstance(node, _ResolvedMultiTerm):
            present = tuple(t for t in node.terms if df_of(t) > 0)
            if not present:
                return None
            return CConstTerms(present, np.float32(node.boost))
        if isinstance(node, Q.Or):
            kids = tuple(k for k in (go(c) for c in node.clauses) if k is not None)
            msm = getattr(node, "min_should_match", 0)
            if not kids or msm > len(kids):
                return None  # can never reach the required clause count
            if len(kids) == 1 and msm <= 1:
                return kids[0]
            return COr(kids, msm)
        if isinstance(node, Q.And):
            kids = tuple(go(c) for c in node.clauses)
            if any(k is None for k in kids):
                return None  # required clause can never match
            return kids[0] if len(kids) == 1 else CAnd(kids)
        if isinstance(node, Q.DisMax):
            kids = tuple(k for k in (go(c) for c in node.clauses) if k is not None)
            if not kids:
                return None
            return kids[0] if len(kids) == 1 else CDisMax(kids, node.tie_breaker)
        if isinstance(node, Q.Not):
            pos = go(node.positive)
            if pos is None:
                return None
            neg = go(node.negative)
            return pos if neg is None else CNot(pos, neg)
        if isinstance(node, Q.ReqFilter):
            pos = go(node.positive)
            if pos is None:
                return None
            filt = go(node.filter)
            # a filter on a term absent from the index matches nothing
            return CReqFilter(pos, filt) if filt is not None else None
        raise TypeError(f"unsupported query node {node!r}")

    return go(q)


def _span_tree(node) -> tuple:
    """Plan span node → nested-tuple grammar of eval_span_tree."""
    if isinstance(node, Q.Term):
        return ("term", node.term)
    if isinstance(node, str):
        return ("term", node)
    if isinstance(node, Q.SpanNear):
        if all(isinstance(t, str) for t in node.terms):
            # duplicate clause terms are handled inside the near kernel
            # (ordered: ratchet over equal streams; unordered: the
            # tie-order-faithful heap walk on docs with duplicated keys —
            # functions/nearspans.py batch_near_spans_exact), top-level
            # or nested; pinned by the nested-repeat shapes of
            # tests/data/lucene_diff/spanalg_fuzz.tsv.gz
            return ("near", tuple(node.terms), node.slop, node.in_order)
        # nested SpanNearQuery(SpanQuery...): clauses may be span nodes
        return ("nearspans", tuple(_span_tree(c) for c in node.terms),
                node.slop, node.in_order)
    if isinstance(node, _ResolvedMultiTerm):
        return ("or", tuple(("term", t) for t in node.terms))
    if isinstance(node, Q.SpanOr):
        return ("or", tuple(_span_tree(c) for c in node.clauses))
    if isinstance(node, Q.SpanNot):
        if node.pre or node.post:
            return ("notwin", _span_tree(node.include),
                    _span_tree(node.exclude), int(node.pre),
                    int(node.post))
        return ("not", _span_tree(node.include), _span_tree(node.exclude))
    if isinstance(node, Q.SpanFirst):
        return ("first", _span_tree(node.match), int(node.end))
    if isinstance(node, Q.SpanPositionRange):
        return ("posrange", _span_tree(node.match),
                int(node.start), int(node.end))
    if isinstance(node, Q.SpanContaining):
        return ("contain", _span_tree(node.big), _span_tree(node.little))
    if isinstance(node, Q.SpanWithin):
        return ("within", _span_tree(node.little), _span_tree(node.big))
    raise TypeError(f"not a span clause: {type(node)}")


def _compiled_terms(c) -> list[str]:
    if c is None:
        return []
    if isinstance(c, CTerm):
        return [c.term]
    if isinstance(c, (CSynonym, CConstTerms, CMultiPhrase,
                      CTermAutomaton, CPayloadCheck, CIndriAnd)):
        return list(c.terms)
    if isinstance(c, CSpanTree):
        from ..functions.spans import span_tree_terms
        return list(dict.fromkeys(span_tree_terms(c.tree)))
    if isinstance(c, CInterval):
        from ..functions.intervals import interval_tree_terms
        return list(dict.fromkeys(interval_tree_terms(c.tree)))
    if isinstance(c, CPayloadScore):
        return [c.term]
    if isinstance(c, (COr, CAnd, CDisMax)):
        out = []
        for k in c.children:
            out.extend(_compiled_terms(k))
        return out
    if isinstance(c, CNot):
        return _compiled_terms(c.positive) + _compiled_terms(c.negative)
    if isinstance(c, CReqFilter):
        return _compiled_terms(c.positive) + _compiled_terms(c.filter)
    if isinstance(c, CReqOpt):
        return _compiled_terms(c.required) + _compiled_terms(c.optional)
    raise TypeError(type(c))


def _bmw_eligible(c) -> bool:
    """Block-max path covers the pure term algebra (Term/Or/And without
    minimumShouldMatch); phrases, synonyms, exclusions, constant-score
    unions and msm fall back to exhaustive scoring."""
    if isinstance(c, CTerm):
        return True
    if isinstance(c, COr):
        return c.min_should_match <= 1 and all(_bmw_eligible(k)
                                               for k in c.children)
    if isinstance(c, CAnd):
        return all(_bmw_eligible(k) for k in c.children)
    return False


# ---------------------------------------------------------------------------
# Per-segment evaluation kernels (numpy, run by Searcher.map_segments)
# ---------------------------------------------------------------------------

class _SegContext:
    def __init__(self, postings_rows: dict[str, dict], norm_bytes: np.ndarray,
                 cache: np.ndarray, sim: Similarity | None = None,
                 live: np.ndarray | None = None):
        self.rows = postings_rows
        self.norms = norm_bytes
        self.cache = cache
        self.sim = sim or BM25Similarity()
        #: liveDocs bitset (None = no deletes). Applied at COLLECTION time
        #: like the reference (IndexSearcher passes reader.getLiveDocs()
        #: to BulkScorer.score) — postings still iterate deleted docs, so
        #: MUST_NOT exclusion via a deleted doc's postings still works and
        #: stats stay stale until merge purges.
        self.live = live
        self._tps: dict[str, TermSegPostings] = {}

    def tp(self, term: str) -> TermSegPostings | None:
        if term not in self.rows:
            return None
        if term not in self._tps:
            self._tps[term] = TermSegPostings(self.rows[term])
        return self._tps[term]


def _f32_boundary(scores: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Round a boolean node's scores through float32 — every reference
    Scorer returns ``float`` (e.g. DisjunctionSumScorer's (float) of its
    double sum), which the PARENT then re-accumulates in double; nested
    boolean trees are only bit-exact if we round at the same node
    boundaries."""
    scores[mask] = scores[mask].astype(np.float32)
    return scores


def _scored(freqs: np.ndarray, node, ctx: _SegContext, lo: int, hi: int):
    """(mask, float64 scores) of a node scored on a per-doc frequency over
    [lo, hi): the docs with ``freqs > 0``, scored by the similarity on
    their float32 freq and ``node.weight``."""
    mask = freqs > 0
    scores = np.zeros(hi - lo, dtype=np.float64)
    if mask.any():
        scores[mask] = ctx.sim.score(freqs[mask].astype(np.float32),
                                     ctx.norms[lo:hi][mask], node.weight,
                                     ctx.cache)
    return mask, scores


def _eval_range(node, ctx: _SegContext, lo: int, hi: int):
    """Evaluate the compiled tree over local docIDs [lo, hi).

    Returns (mask bool[hi-lo], scores float64[hi-lo]) — clause scores
    accumulate in float64 exactly like the reference's double accumulators
    (DisjunctionSumScorer/ConjunctionScorer), cast to float32 at the end.
    """
    n = hi - lo
    mask = np.zeros(n, dtype=bool)
    scores = np.zeros(n, dtype=np.float64)
    if isinstance(node, CTerm):
        tp = ctx.tp(node.term)
        if tp is not None:
            ids, tfs = tp.in_range(lo, hi)
            if len(ids):
                s = ctx.sim.score(tfs, ctx.norms[ids], node.weight,
                                  ctx.cache)
                mask[ids - lo] = True
                scores[ids - lo] = s.astype(np.float64)
        return mask, scores
    if isinstance(node, CIndriAnd):
        # IndriAndScorer.scoreDoc (search/IndriAndScorer.java:15-41):
        # union of the clause match sets; each clause contributes its
        # float32 Indri score (freq > 0) or smoothing score (freq = 0),
        # boost-weighted, accumulated in double, mean by boostSum, one
        # float32 cast at the node boundary.
        total = np.zeros(n, dtype=np.float64)
        norms_rng = ctx.norms[lo:hi]
        for t, w, b in zip(node.terms, node.weights, node.boosts):
            tfs_full = np.zeros(n, dtype=np.float64)
            tp = ctx.tp(t)
            if tp is not None:
                ids, tfs = tp.in_range(lo, hi)
                if len(ids):
                    tfs_full[ids - lo] = tfs
                    mask[ids - lo] = True
            s = ctx.sim.score(tfs_full, norms_rng, w, ctx.cache)
            total += s.astype(np.float64) * b
        boost_sum = float(sum(node.boosts))
        scores[mask] = (total[mask] / boost_sum).astype(np.float32)
        return mask, scores
    if isinstance(node, CSynonym):
        if node.boosts is None:
            freqs = np.zeros(n, dtype=np.int64)
            for t in node.terms:
                tp = ctx.tp(t)
                if tp is None:
                    continue
                ids, tfs = tp.in_range(lo, hi)
                freqs[ids - lo] += tfs
            mask = freqs > 0
            if mask.any():
                s = ctx.sim.score(freqs[mask], ctx.norms[lo:hi][mask],
                                  node.weight, ctx.cache)
                scores[mask] = s.astype(np.float64)
            return mask, scores
        # blended: freq = sum of float32(boost_i * tf_i), the per-term
        # float32 products summed in float64 (exact — each addend is a
        # float32) then cast, shared with oracle and SQL twin
        freqs = np.zeros(n, dtype=np.float64)
        for t, b in zip(node.terms, node.boosts):
            tp = ctx.tp(t)
            if tp is None:
                continue
            ids, tfs = tp.in_range(lo, hi)
            freqs[ids - lo] += (np.float32(b)
                                * tfs.astype(np.float32)).astype(np.float64)
        return _scored(freqs, node, ctx, lo, hi)
    if isinstance(node, CMultiPhrase):
        offs = list(node.positions or range(len(node.slots)))
        if node.slop > 0:
            freqs = _sloppy_multiphrase_freqs(node.slots, ctx, lo, hi,
                                              node.slop, offs)
        else:
            freqs = _multi_phrase_freqs(
                _slot_keys(node.slots, ctx, lo, hi, offs, np.unique),
                hi - lo)
        return _scored(freqs, node, ctx, lo, hi)
    if isinstance(node, CPayloadCheck):
        return _scored(_payload_check_freqs(node, ctx, lo, hi), node, ctx,
                       lo, hi)
    if isinstance(node, CTermAutomaton):
        # position-wave batched NFA: all candidate docs advance the DP
        # together (the per-doc loop remains as the differential twin)
        from ..functions.automaton import wave_term_automaton_freqs
        keys = []
        for t in node.terms:
            k = _clause_pos_keys([t], ctx, lo, hi)
            keys.append(k[0] if k is not None else np.empty(0, np.int64))
        trans = {(f, td): tg for f, td, tg in node.trans}
        anyt = dict(node.any_trans)
        freqs = wave_term_automaton_freqs(keys, n, trans, anyt,
                                          node.accepts)
        return _scored(freqs, node, ctx, lo, hi)
    if isinstance(node, CSpanTree):
        return _scored(_span_tree_freqs(node, ctx, lo, hi), node, ctx, lo,
                       hi)
    if isinstance(node, CInterval):
        from ..functions.intervals import (batch_interval_freqs,
                                           eval_intervals,
                                           interval_tree_terms,
                                           saturation_scores)
        pmap = {}
        for t in dict.fromkeys(interval_tree_terms(node.tree)):
            k = _clause_pos_keys([t], ctx, lo, hi)
            pmap[t] = k[0] if k is not None else np.empty(0, np.int64)
        iv = eval_intervals(node.tree, pmap)
        freqs = batch_interval_freqs(iv, node.minext, n)
        mask = freqs > 0
        if mask.any():
            s = saturation_scores(freqs[mask], node.pivot, node.boost)
            scores[mask] = s.astype(np.float64)
        return mask, scores
    if isinstance(node, CConstTerms):
        for t in node.terms:
            tp = ctx.tp(t)
            if tp is None:
                continue
            ids, _ = tp.in_range(lo, hi)
            mask[ids - lo] = True
        scores[mask] = np.float64(node.weight)
        return mask, scores
    if isinstance(node, COr):
        if node.min_should_match > 1:
            counts = np.zeros(n, dtype=np.int64)
            for child in node.children:
                m, s = _eval_range(child, ctx, lo, hi)
                counts += m
                scores += s
            mask = counts >= node.min_should_match
            scores[~mask] = 0.0
            return mask, _f32_boundary(scores, mask)
        for child in node.children:
            m, s = _eval_range(child, ctx, lo, hi)
            mask |= m
            scores += s
        return mask, _f32_boundary(scores, mask)
    if isinstance(node, CAnd):
        mask = None
        for child in node.children:
            m, s = _eval_range(child, ctx, lo, hi)
            mask = m if mask is None else (mask & m)
            scores += s
            if not mask.any():
                # conjunction already empty — skip remaining clauses
                # (scores are zeroed below either way, so parity holds)
                break
        scores[~mask] = 0.0
        return mask, _f32_boundary(scores, mask)
    if isinstance(node, CDisMax):
        # score = max + tie_breaker*(sum - max); max of float32 child scores
        # (reference DisjunctionMaxScorer); zeros from non-matching children
        # never win because BM25 scores are strictly positive.
        smax = np.zeros(n, dtype=np.float64)
        ssum = np.zeros(n, dtype=np.float64)
        for child in node.children:
            m, s = _eval_range(child, ctx, lo, hi)
            mask |= m
            np.maximum(smax, s, out=smax)
            ssum += s
        scores = smax + (ssum - smax) * np.float64(np.float32(node.tie_breaker))
        scores[~mask] = 0.0
        return mask, _f32_boundary(scores, mask)
    if isinstance(node, CNot):
        mask, scores = _eval_range(node.positive, ctx, lo, hi)
        m_neg, _ = _eval_range(node.negative, ctx, lo, hi)
        mask &= ~m_neg
        scores[~mask] = 0.0
        return mask, scores
    if isinstance(node, CReqFilter):
        mask, scores = _eval_range(node.positive, ctx, lo, hi)
        m_f, _ = _eval_range(node.filter, ctx, lo, hi)
        mask &= m_f
        scores[~mask] = 0.0
        return mask, scores
    if isinstance(node, CPayloadScore):
        tp = ctx.tp(node.term)
        pays = tp.payloads() if tp is not None else None
        if pays is None:
            if tp is not None:
                raise ValueError(
                    "PayloadScore over an index built without "
                    "payload_delimiter (no payload stream)")
            return mask, scores
        ids, tfs = tp.decode_all()
        sel = (ids >= lo) & (ids < hi)
        if not sel.any():
            return mask, scores
        bounds = np.concatenate(([0], np.cumsum(tfs)))
        ids_s, tfs_s = ids[sel], tfs[sel]
        starts = bounds[:-1][sel]
        # segmented aggregation over each selected posting's payload run
        idx = np.repeat(starts, tfs_s) + _run_arange(tfs_s)
        vals = pays[idx].astype(np.float64)
        cuts = np.concatenate(([0], np.cumsum(tfs_s)))[:-1]
        if node.func == "sum":
            agg = np.add.reduceat(vals, cuts)
        elif node.func == "max":
            agg = np.maximum.reduceat(vals, cuts)
        elif node.func == "min":
            agg = np.minimum.reduceat(vals, cuts)
        else:   # avg
            agg = np.add.reduceat(vals, cuts) / tfs_s
        s = np.float32(node.boost) * agg.astype(np.float32)
        mask[ids_s - lo] = True
        scores[ids_s - lo] = s.astype(np.float64)
        return mask, scores
    if isinstance(node, CReqOpt):
        mask, scores = _eval_range(node.required, ctx, lo, hi)
        m_opt, s_opt = _eval_range(node.optional, ctx, lo, hi)
        both = mask & m_opt
        scores[both] += s_opt[both]
        return mask, _f32_boundary(scores, mask)
    raise TypeError(type(node))


def _slot_keys(slots, ctx: "_SegContext", lo: int, hi: int,
               offsets, union) -> list[np.ndarray] | None:
    """Per-slot sorted offset-adjusted position keys ``(doc - lo) << 32 |
    (pos - offsets[j] + pad)`` for every occurrence in [lo, hi). A
    one-term slot's keys are used as decoded (already sorted); a
    multi-term slot merges its alternatives' keys with ``union`` —
    ``np.unique`` for the exact matcher (UnionPostingsEnum: a (doc, pos)
    hit shared by alternatives counts once) and ``np.sort`` for the
    sloppy one (every sub's positions, ``MultiPhraseQuery.java:445-461``).
    None when a slot has no term in the segment."""
    pad = max(offsets) + 1
    out = []
    for slot, off in zip(slots, offsets):
        parts = [k for t in slot
                 for k in _clause_pos_keys([t], ctx, lo, hi, [off], pad)
                 or ()]
        if not parts:
            return None
        out.append(parts[0] if len(slot) == 1
                   else union(np.concatenate(parts)))
    return out


def _multi_phrase_freqs(keys: list[np.ndarray] | None,
                        n: int) -> np.ndarray:
    """ExactPhraseMatcher over offset-adjusted slot keys (see
    :func:`_slot_keys`): a first-slot occurrence starts a match when
    every other slot holds the same key; freq per doc = matching
    starts. Phrase, MultiPhrase and SpanPayloadCheck's payload-filtered
    clauses all count here."""
    if keys is None or any(len(k) == 0 for k in keys):
        return np.zeros(n, dtype=np.int64)
    first = keys[0]
    match = np.ones(len(first), dtype=bool)
    for ks in keys[1:]:
        idx = np.searchsorted(ks, first)
        match &= (idx < len(ks)) & (ks[np.minimum(idx, len(ks) - 1)]
                                    == first)
    return np.bincount(first[match] >> 32, minlength=n)


def _sloppy_multiphrase_freqs(slots, ctx: "_SegContext",
                              lo: int, hi: int, slop: int,
                              offs: list[int]) -> np.ndarray:
    """Sloppy phrase frequency per doc in [lo, hi), one batched pass of
    the SloppyPhraseMatcher walk (``SloppyPhraseMatcher.java:53``) over
    every candidate doc. Repeat analysis
    (``functions.sloppy.multiphrase_repeat_groups`` — the reference's
    initFirstTime term-component grouping) routes to the no-repeat
    lockstep kernel, the closed form below, or the wave-batched
    advanceRpts walk (with the multi-term-repeats collide-driven init
    when a repeating slot holds several terms,
    ``SloppyPhraseMatcher.java:286-466``), all exact."""
    from ..functions.sloppy import (batch_lucene_repeat_freqs,
                                    batch_lucene_sloppy_freqs,
                                    multiphrase_repeat_groups)
    n = hi - lo
    m = len(slots)
    if m > 1 and len(slots[0]) == 1 and len(set(slots)) == 1 \
            and offs == list(range(m)):
        # "t t ... t" at default positions ("if if"~N on a common term —
        # the worst realistic candidate set) has a closed form: with
        # strictly increasing positions, the adjusted window of the
        # consecutive m-run starting at i is [P[i], P[i+m-1]-(m-1)];
        # BOTH ends strictly increase across runs, so every run is
        # containment-minimal and non-consecutive selections are
        # dominated (fuzz-verified ≡ the advanceRpts walk).
        freqs = np.zeros(n, dtype=np.float32)  # PhraseScorer f32 chain
        keys = _slot_keys(slots[:1], ctx, lo, hi, [0], np.sort)
        if keys is None or len(keys[0]) < m:
            return freqs.astype(np.float64)
        key = keys[0]
        k = len(key) - m + 1
        ml = (key[m - 1:] - (m - 1)) - key[:k]
        ok = ((key[:k] >> 32) == (key[m - 1:] >> 32)) & (ml <= slop)
        if ok.any():
            from ..functions.spans import sloppy_weights
            np.add.at(freqs, key[:k][ok] >> 32, sloppy_weights(ml[ok]))
        return freqs.astype(np.float64)
    keys = _slot_keys(slots, ctx, lo, hi, offs, np.sort)
    if keys is None:
        return np.zeros(n, dtype=np.float64)
    has_rpts, has_mtp, groups = multiphrase_repeat_groups(slots, offs)
    if not has_rpts:
        return batch_lucene_sloppy_freqs(keys, offs, slop, n)
    return batch_lucene_repeat_freqs(keys, offs, slop, n, groups,
                                     mtp_init=has_mtp)


def _run_arange(lengths: np.ndarray) -> np.ndarray:
    """Concatenated arange(l) for each run length l — vectorized."""
    total = int(lengths.sum())
    if total == 0:
        return np.empty(0, np.int64)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    return np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)


def _clause_pos_keys(terms, ctx: _SegContext, lo: int, hi: int,
                     offsets: list[int] | None = None,
                     pad: int = 0) -> list[np.ndarray] | None:
    """Per-clause sorted global position keys ``(doc - lo) << 32 |
    (pos - offset_j + pad)`` for every clause occurrence in [lo, hi) —
    the doc-major embedding the batched span kernels run on. None when
    any clause term is absent from the segment (no match possible)."""
    BIG = np.int64(1) << np.int64(32)
    out = []
    for j, t in enumerate(terms):
        tp = ctx.tp(t)
        if tp is None:
            return None
        ids, tfs = tp.decode_all()
        pos = tp.positions()
        docs_rep = np.repeat(ids, tfs)
        sel = (docs_rep >= lo) & (docs_rep < hi)
        off = (offsets[j] if offsets else 0) - pad
        out.append((docs_rep[sel] - lo) * BIG + (pos[sel] - off))
    return out


def _payload_check_freqs(node: "CPayloadCheck", ctx: _SegContext,
                         lo: int, hi: int) -> np.ndarray:
    """Exact phrase over payload-filtered positions: clause j keeps
    positions whose float32 payload equals payloads[j] (None = any),
    then the exact phrase matcher counts start positions per doc."""
    n = hi - lo
    BIG = np.int64(1) << np.int64(32)
    keys = []
    for j, (t, want) in enumerate(zip(node.terms, node.payloads)):
        tp = ctx.tp(t)
        if tp is None:
            return np.zeros(n, dtype=np.int64)
        pays = tp.payloads()
        if pays is None:
            raise ValueError("SpanPayloadCheck over an index built "
                             "without payload_delimiter")
        ids, tfs = tp.decode_all()
        docs_rep = np.repeat(ids, tfs)
        sel = (docs_rep >= lo) & (docs_rep < hi)
        if want is not None:
            sel &= pays == np.float32(want)
        # pad keeps adjusted positions positive inside each doc's key
        # space (same trick as _slot_keys)
        keys.append((docs_rep[sel] - lo) * BIG
                    + (tp.positions()[sel] - j + len(node.terms)))
    return _multi_phrase_freqs(keys, n)


def _span_tree_freqs(node: "CSpanTree", ctx: _SegContext,
                     lo: int, hi: int) -> np.ndarray:
    """Span-algebra sloppy frequency per doc in [lo, hi), one batched
    pass: every term's positions are embedded into doc-major global keys
    and the whole tree evaluates on global-key span arrays
    (functions.spans.eval_span_tree_batch) — or/not/first/contain/within
    are single numpy passes over the segment; only nested nearspans
    nodes fall back to the per-doc matcher."""
    from ..functions.spans import (batch_spans_freqs, eval_span_tree_batch,
                                   span_tree_terms)
    n = hi - lo
    terms = list(dict.fromkeys(span_tree_terms(node.tree)))
    keys = _clause_pos_keys(terms, ctx, lo, hi)
    if keys is None:
        # absent terms only weaken OR/NOT branches, never abort the tree
        keys = []
        for t in terms:
            k = _clause_pos_keys([t], ctx, lo, hi)
            keys.append(k[0] if k is not None else np.empty(0, np.int64))
    pmap = dict(zip(terms, keys))
    spans = eval_span_tree_batch(node.tree, pmap)
    return batch_spans_freqs(spans, n)


def _upper_bounds_cover(node, ctx: _SegContext,
                        n_windows: int) -> tuple[np.ndarray, np.ndarray]:
    """(per-window score upper bound, per-window coverage) from block-max
    impacts. Bounds are float64 sums of float32 per-term block maxima — a
    valid bound up to float rounding; the collector applies a relative
    epsilon before trusting it.

    Coverage marks windows where the node can match AT ALL: a term covers
    the windows its blocks span; an OR covers the union; an AND covers the
    INTERSECTION and zeroes its bound elsewhere — the rarest required
    term gates the whole conjunction (the ConjunctionDISI lead-iterator
    role, ``search/ConjunctionDISI.java:158``), so an AND of one rare and
    one common term skips every window the rare term never reaches
    instead of evaluating the common term's full range."""
    if isinstance(node, CTerm):
        ub = np.zeros(n_windows, dtype=np.float64)
        cover = np.zeros(n_windows, dtype=bool)
        tp = ctx.tp(node.term)
        if tp is None or tp.n_blocks == 0:
            return ub, cover
        bms = tp.block_max_scores(node.weight, ctx.cache,
                                  ctx.sim).astype(np.float64)
        starts = np.concatenate(([0], tp.block_last[:-1] + 1)) // WINDOW
        ends = tp.block_last // WINDOW
        for b in range(tp.n_blocks):
            w0, w1 = int(starts[b]), int(ends[b])
            seg = ub[w0:w1 + 1]
            np.maximum(seg, bms[b], out=seg)
            cover[w0:w1 + 1] = True
        return ub, cover
    if isinstance(node, (COr, CAnd)):
        ub = np.zeros(n_windows, dtype=np.float64)
        cover = None
        for child in node.children:
            cub, ccov = _upper_bounds_cover(child, ctx, n_windows)
            ub += cub
            if isinstance(node, CAnd):
                cover = ccov if cover is None else (cover & ccov)
            else:
                cover = ccov if cover is None else (cover | ccov)
        if cover is None:
            cover = np.zeros(n_windows, dtype=bool)
        if isinstance(node, CAnd):
            ub[~cover] = 0.0
        return ub, cover
    raise TypeError(type(node))


def _live_mask(deletes: dict[int, np.ndarray] | None, seg_id: int,
               n: int) -> np.ndarray | None:
    """bool[n] liveDocs for one segment (None when nothing is deleted)."""
    if not deletes:
        return None
    d = deletes.get(seg_id)
    if d is None or len(d) == 0:
        return None
    live = np.ones(n, dtype=bool)
    live[d[d < n]] = False
    return live


def _topk_merge(gids: np.ndarray, scores32: np.ndarray, k: int):
    """k best by (score desc, global doc_id asc)."""
    order = np.lexsort((gids, -scores32.astype(np.float64)))[:k]
    return gids[order], scores32[order]


def score_segment(compiled, postings_rows: dict[str, dict],
                  norm_bytes: np.ndarray, gids: np.ndarray,
                  cache: np.ndarray, k: int, mode: str,
                  after: tuple[float, int] | None = None,
                  ctx: "_SegContext | None" = None):
    """One segment's top-k: returns (global_doc_ids, float32 scores, hits).

    ``hits`` is the exact match count in exhaustive mode; in bmw mode it is
    a lower bound (the reference reports totalHits GTE beyond the threshold:
    ``search/TopScoreDocCollector.java:91-96``).
    """
    n = len(norm_bytes)
    if ctx is None:
        ctx = _SegContext(postings_rows, norm_bytes, cache)
    # auto gates on segment size: with ≤2 windows the block-max pass
    # cannot prune anything (it must evaluate nearly every window anyway)
    # and the impact-frontier upper-bound setup is pure overhead — small
    # segments score exhaustively, exactly like the reference skips
    # BooleanScorer windowing gains on tiny leaves. Explicit mode="bmw"
    # keeps the pruning path (tests pin it on small fixtures).
    use_bmw = (ctx.sim.monotonic
               and getattr(ctx.sim, "nonnegative", True)
               and (mode == "bmw"
                    or (mode == "auto" and _bmw_eligible(compiled)
                        and n > 2 * WINDOW)))
    if compiled is None or n == 0:
        return np.empty(0, np.int64), np.empty(0, np.float32), 0

    def collectable(local_ids, s32):
        if after is None:
            return np.ones(len(local_ids), dtype=bool)
        a_score, a_doc = np.float32(after[0]), int(after[1])
        g = gids[local_ids]
        return (s32 < a_score) | ((s32 == a_score) & (g > a_doc))

    if not use_bmw or not _bmw_eligible(compiled):
        mask, scores = _eval_range(compiled, ctx, 0, n)
        if ctx.live is not None:
            mask &= ctx.live
        hits = int(mask.sum())
        lids = np.nonzero(mask)[0]
        s32 = scores[lids].astype(np.float32)
        keep = collectable(lids, s32)
        g, s = _topk_merge(gids[lids[keep]], s32[keep], k)
        return g, s, hits

    # ---- block-max windowed pruning ----
    n_windows = (n + WINDOW - 1) // WINDOW
    ub, _ = _upper_bounds_cover(compiled, ctx, n_windows)
    worder = np.argsort(-ub, kind="stable")
    cand_g: list[np.ndarray] = []
    cand_s: list[np.ndarray] = []
    theta = -np.inf
    count = 0
    hits = 0
    EPS = 1e-5
    for w in worder:
        if ub[w] <= 0.0:
            break
        if count >= k and ub[w] < theta * (1.0 - EPS) - 1e-9:
            break  # no remaining window can compete (worder is UB-desc)
        lo = int(w) * WINDOW
        hi = min(lo + WINDOW, n)
        mask, scores = _eval_range(compiled, ctx, lo, hi)
        if ctx.live is not None:
            mask &= ctx.live[lo:hi]
        if not mask.any():
            continue
        hits += int(mask.sum())
        local = np.nonzero(mask)[0]
        lids = local + lo
        s32 = scores[local].astype(np.float32)
        keep = collectable(lids, s32)
        if keep.any():
            cand_g.append(gids[lids[keep]])
            cand_s.append(s32[keep])
            count += int(keep.sum())
        if count >= k:
            g_all = np.concatenate(cand_g)
            s_all = np.concatenate(cand_s)
            g_all, s_all = _topk_merge(g_all, s_all, k)
            cand_g, cand_s = [g_all], [s_all]
            count = len(g_all)
            theta = float(s_all[-1])
    if not cand_g:
        return np.empty(0, np.int64), np.empty(0, np.float32), hits
    g_all = np.concatenate(cand_g)
    s_all = np.concatenate(cand_s)
    g, s = _topk_merge(g_all, s_all, k)
    return g, s, hits


# ---------------------------------------------------------------------------
# The distributed Searcher
# ---------------------------------------------------------------------------

def _columns(schema: str) -> list[str]:
    """Column names of a flat DDL schema."""
    return [c.split()[0] for c in schema.split(",")]


def local_frame(spark, pdf: pd.DataFrame, schema: str):
    """A DataFrame of the DDL ``schema`` over a driver-held pandas frame,
    built from an Arrow table into a local relation: no Spark job runs on
    any action, empty or not. (A list, or an empty pandas frame, takes a
    path that runs a Python-worker job on every action.)"""
    import pyarrow as pa
    return spark.createDataFrame(
        pa.Table.from_pandas(pdf, preserve_index=False), schema)


def ranked_top_k(spark, rows, key: str, ascending: bool, k: int):
    """The first ``k`` of ``rows`` by (``key``, ``doc_id`` ascending) with
    a 1-based ``rank int``, as a local frame. ``rows`` is an arrow table on
    the driver, or a DataFrame whose ≤ k leading rows one job collects
    (TakeOrderedAndProject). The driver orders and numbers them, the way
    ``search`` merges its top k: no unpartitioned Window runs."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema
    if not isinstance(rows, pa.Table):
        # collect(), not toArrow(): only collect takes the ordered rows
        # without a shuffle to one partition
        schema = to_arrow_schema(rows.schema)
        rows = pa.Table.from_pylist(
            [r.asDict() for r in
             rows.orderBy(F.asc(key) if ascending else F.desc(key),
                          F.asc("doc_id")).limit(k).collect()], schema)
    top = rows.sort_by(
        [(key, "ascending" if ascending else "descending"),
         ("doc_id", "ascending")],
        null_placement="at_start" if ascending else "at_end").slice(0, k)
    rank = np.arange(1, top.num_rows + 1, dtype=np.int32)
    return spark.createDataFrame(top.append_column("rank", pa.array(rank)))


def merged_top_k(spark, cand, k: int, by: str | None = None):
    """The global top ``k`` of the per-segment candidates ``cand`` (a
    DataFrame of ``doc_id long, score float``), per value of its string
    column ``by`` when given: merged on the driver with the segments'
    tie-break (TopDocs.merge) and numbered by a 1-based ``rank int``, as a
    local frame."""
    schema = "doc_id long, score float, rank int"
    if by is not None:
        schema = f"{by} string, {schema}"
    pdf = cand.toPandas()
    tops = []
    for key, c in pdf.groupby(by) if by is not None else [(None, pdf)]:
        g, s = _topk_merge(c["doc_id"].to_numpy(np.int64),
                           c["score"].to_numpy(np.float32), k)
        top = pd.DataFrame({"doc_id": g, "score": s, "rank": np.arange(
            1, len(g) + 1, dtype=np.int32)})
        if by is not None:
            top.insert(0, by, key)
        tops.append(top)
    if not tops:
        return empty_frame(spark, schema)
    return local_frame(spark, pd.concat(tops, ignore_index=True), schema)


def empty_frame(spark, schema: str):
    """A typed empty DataFrame that runs no Spark job."""
    return local_frame(spark, pd.DataFrame(columns=_columns(schema)), schema)


def fan_out(spark, items: list, fn, schema: str):
    """``fn(item)`` → a pandas frame of the DDL ``schema`` (or None) for
    every item, in ``min(len(items), defaultParallelism)`` Python tasks: no
    shuffle. The items are pickled into the rows of a local relation, so
    each task carries only its own slice of them, and ``fn``'s closure is
    the only state every task shares."""
    import pickle
    if not items:
        return empty_frame(spark, schema)

    def run(batches):
        for pdf in batches:
            for blob in pdf["item"]:
                out = fn(pickle.loads(blob))
                if out is not None:
                    yield out

    rows = pd.DataFrame({"item": [pickle.dumps(it) for it in items]})
    return local_frame(spark, rows, "item binary").mapInPandas(run, schema)


class QueryCompiler:
    """Driver-side query preparation over one index's term dictionary:
    rewrite, multi-term expansion, collection stats and weights. A reader
    answers two reads of its dictionary, ``_term_columns(bounds)`` and
    ``_global_stats(terms)``, and holds ``similarity``, ``doc_count``,
    ``sum_ttf`` and ``deletes``. :class:`Searcher` reads committed term
    dictionaries; ``operators.memoryindex.MemorySegment`` reads the
    postings of a segment inverted in memory."""

    def expand_terms(self, kind: str, value, max_terms: int = 512
                     ) -> list[str]:
        """MultiTermQuery expansion against the term dictionary (the
        reference's rewrite walks the sorted terms against the query's
        automaton: ``search/MultiTermQuery.java:55``): the dictionary's
        terms that ``plans.query.term_matcher(kind, value)`` accepts.

        ``kind``/``value`` are a :class:`~lucene_spark.plans.query.
        MultiTerm`'s: ``("prefix", p)``, ``("wildcard", pattern)`` with
        ``*``/``?``/``\\`` escape, ``("regexp", python_regex)`` matched
        against the whole term, ``("fuzzy", (term, max_edits))`` and
        ``("range", (lo, hi, lo_inclusive, hi_inclusive))`` with ``None``
        for an open end. Expansion is capped at ``max_terms`` (the
        reference's maxClauseCount guard), deterministically: the first
        ``max_terms`` in UTF-8 byte order. Read on the driver with no
        Spark job; several dictionaries (MultiSearcher) merge."""
        return self._dictionary_terms(kind, value)[:max_terms]

    def _dictionary_terms(self, kind: str, value) -> list[str]:
        """Every dictionary term the matcher accepts, sorted."""
        bounds, select = Q.term_matcher(kind, value)
        return sorted({t for col in self._term_columns(bounds)
                       for t in select(col)})

    def _fuzzy_boosts(self, base: str, max_edits: int, limit: int,
                      prefix: str = "") -> list[tuple[str, np.float32]]:
        """The ``limit`` best fuzzy variants of ``base`` that start with
        ``prefix``, as ``(term, float32 boost)``: FuzzyTermsEnum's boost
        ``1 - ed/min(len(term), len(base))``, 1.0 for an exact match
        (``FuzzyTermsEnum.java:248-255``). Ranked by that boost in double
        precision, then by term, the top-terms queue's order."""
        bounds, select = Q.term_matcher("prefix", prefix)
        dist = {}
        for col in self._term_columns(bounds):
            col = select(col)
            dist.update((t, int(d)) for t, d in zip(
                col, Q.edit_distances(col, base, max_edits))
                if d <= max_edits)
        ranked = []
        for t, d in dist.items():
            ml = min(len(t), len(base))
            b = np.float32(1.0) - np.float32(d) / np.float32(ml)
            ranked.append((-(1.0 - d / ml) if d else -1.0, t,
                           np.float32(1.0) if d == 0 else b))
        ranked.sort(key=lambda r: r[:2])
        return [(t, b) for _, t, b in ranked[:limit]]

    def fuzzy_terms_with_boosts(self, base: str, max_edits: int = 2,
                                max_expansions: int = 50
                                ) -> list[tuple[str, float]]:
        """Fuzzy expansion with FuzzyTermsEnum boosts (see
        ``_fuzzy_boosts``), capped at the ``max_expansions`` best-boost
        terms (TopTermsBlendedFreqScoringRewrite's maxExpansions=50,
        ``FuzzyQuery.java:57``), returned sorted by term."""
        return sorted((t, float(b)) for t, b in
                      self._fuzzy_boosts(base, max_edits, max_expansions))

    def _global_dfs(self, terms: list[str]) -> dict[str, int]:
        return self._global_stats(terms)[0]

    def _resolve(self, q):
        """Expand MultiTerm nodes against the term dictionary (the
        reference's rewrite(reader) step for MultiTermQuery:
        ``search/MultiTermQuery.java:55``)."""
        if isinstance(q, Q.MultiPhrase) and \
                any(not isinstance(e, str) for s in q.slots for e in s):
            # "app* as a multi-phrase": multiterm slot entries expand
            # against the dictionary into the slot's alternative set
            # (the reference builds this with a TermsEnum walk —
            # MultiPhraseQuery javadoc's prefixed-phrase example); slop
            # and positions carry over
            for e in (e for s in q.slots for e in s):
                if not isinstance(e, str) and e[0] not in ("prefix",
                                                           "wildcard"):
                    raise ValueError(f"multiphrase slot entry kind {e[0]!r}")
            return replace(q, slots=tuple(
                tuple(dict.fromkeys(t for e in slot for t in (
                    [e] if isinstance(e, str) else self.expand_terms(*e))))
                for slot in q.slots))
        if isinstance(q, Q.FuzzyLikeThis):
            # FuzzyLikeThisQuery.rewrite (sandbox/queries/
            # FuzzyLikeThisQuery.java:118-255): per-source-term fuzzy
            # variant queues → boost²·idf rescoring → global top queue →
            # SHOULD sum over artificial-df=1 term queries
            from ..functions.analysis import analyze_text
            toks, _, _ = analyze_text(q.text)
            variants = {t: self._fuzzy_boosts(t, q.max_edits,
                                              q.max_variants_per_term,
                                              t[:q.prefix_len])
                        for t in dict.fromkeys(toks)}
            dfs = self._global_dfs(list(variants) + [
                v for vs in variants.values() for v, _ in vs])
            num_docs = self.doc_count
            if self.deletes:
                num_docs -= sum(len(v) for v in self.deletes.values())
            scored: list[tuple[float, str]] = []
            for t, vs in variants.items():
                if not vs:
                    continue
                # else the integer-mean of the variants' dfs (:162-166)
                df_src = dfs.get(t, 0) or \
                    sum(dfs[v] for v, _ in vs) // len(vs)
                idf = np.float32(
                    np.log((num_docs + 1) / (df_src + 1.0)) + 1.0)
                scored.extend((float(np.float32(np.float32(b * b) * idf)), v)
                              for v, b in vs)
            # global ScoreTermQueue order: score desc, term asc (:362-365)
            scored.sort(key=lambda p: (-p[0], p[1]))
            top = scored[:q.max_num_terms]
            if not top:
                return _ResolvedMultiTerm((), 1.0)
            return _FixedStatsTerms(tuple(t for _, t in top),
                                    tuple(s for s, _ in top))
        if isinstance(q, Q.MultiTerm):
            if q.kind == "fuzzy" and q.scored:
                pairs = self.fuzzy_terms_with_boosts(str(q.value), q.edits)
                return _BlendedTerms(tuple(t for t, _ in pairs),
                                     tuple(b for _, b in pairs), q.boost)
            return _ResolvedMultiTerm(tuple(self.expand_terms(*q.expansion)),
                                      q.boost)
        if isinstance(q, Q.Or):
            return Q.Or(tuple(self._resolve(c) for c in q.clauses),
                        q.min_should_match)
        if isinstance(q, Q.And):
            return Q.And(tuple(self._resolve(c) for c in q.clauses))
        if isinstance(q, Q.DisMax):
            return Q.DisMax(tuple(self._resolve(c) for c in q.clauses),
                            q.tie_breaker)
        if isinstance(q, Q.Not):
            return Q.Not(self._resolve(q.positive), self._resolve(q.negative))
        if isinstance(q, Q.ReqFilter):
            return Q.ReqFilter(self._resolve(q.positive),
                               self._resolve(q.filter))
        if isinstance(q, Q.Interval):
            from ..functions.intervals import resolve_multi_term_sources
            return Q.Interval(resolve_multi_term_sources(q.tree,
                                                         self.expand_terms),
                              q.pivot, q.boost)
        if isinstance(q, Q.SpanMultiTermWrapper):
            # SpanMultiTermQueryWrapper: dictionary expansion → SpanOr of
            # term spans (reference SpanMultiTermQueryWrapper.java rewrite)
            expanded = self._resolve(q.query)
            if isinstance(expanded, _ResolvedMultiTerm):
                return Q.SpanOr(tuple(Q.Term(t) for t in expanded.terms))
            return Q.SpanOr(tuple(Q.Term(t) for t in expanded.all_terms()))
        if isinstance(q, Q.SpanNear) and \
                not all(isinstance(t, str) for t in q.terms):
            return Q.SpanNear(tuple(t if isinstance(t, str)
                                    else self._resolve(t)
                                    for t in q.terms), q.slop, q.in_order)
        if isinstance(q, Q.SpanOr):
            return Q.SpanOr(tuple(self._resolve(c) for c in q.clauses))
        if isinstance(q, Q.SpanNot):
            return Q.SpanNot(self._resolve(q.include),
                             self._resolve(q.exclude), q.pre, q.post)
        if isinstance(q, Q.SpanFirst):
            return Q.SpanFirst(self._resolve(q.match), q.end)
        if isinstance(q, Q.SpanPositionRange):
            return Q.SpanPositionRange(self._resolve(q.match),
                                       q.start, q.end)
        if isinstance(q, Q.SpanContaining):
            return Q.SpanContaining(self._resolve(q.big),
                                    self._resolve(q.little))
        if isinstance(q, Q.SpanWithin):
            return Q.SpanWithin(self._resolve(q.little),
                                self._resolve(q.big))
        return q

    def _compile_many(self, queries: dict) -> tuple[dict, np.ndarray]:
        """({key: compiled query or None}, norm cache) of ``queries``
        ({key: query or query string}): each rewritten and resolved, then
        weighted with the stats of ONE dictionary probe for the union of
        their terms."""
        resolved = {key: self._resolve(Q.rewrite_fixed_point(
            parse_query(q) if isinstance(q, str) else q))
            for key, q in queries.items()}
        dfs, ttfs = self._global_stats(
            [t for q in resolved.values() for t in q.all_terms()])
        avgdl = bm25.avg_field_length(self.sum_ttf, self.doc_count)
        return ({key: compile_query(q, dfs, self.doc_count, self.similarity,
                                    ttfs, self.sum_ttf)
                 for key, q in resolved.items()},
                self.similarity.norm_cache(avgdl))

    def _compile(self, query):
        """(compiled query or None, norm cache): :meth:`_compile_many` of
        one query."""
        compiled, cache = self._compile_many({0: query})
        return compiled[0], cache


class Searcher(QueryCompiler):
    """Point-in-time reader + searcher over a committed snapshot
    (DirectoryReader/IndexSearcher role)."""

    def __init__(self, spark, index_dir: str, snapshot_id: int | None = None,
                 similarity: Similarity | None = None):
        self._open(spark, [(index_dir, snapshot_id)], similarity)
        self.index_dir = index_dir

    def _open(self, spark, indexes: list[tuple[str, int | None]],
              similarity: Similarity | None) -> None:
        """Open ``(index_dir, snapshot_id)`` sub-indexes as one reader
        (``DirectoryReader.open`` reads segment metadata only): manifests,
        tombstones and collection stats, on the driver, with no Spark job.
        Each sub-index's seg ids shift past the previous ones' (the
        MultiReader docBase role), so ``seg_dirs`` and ``deletes`` key
        every segment uniquely; a query task opens the segments itself."""
        from collections import OrderedDict

        from ..session import ensure_shipped
        from .delete import load_deletes
        ensure_shipped(spark)
        self.spark = spark
        self.similarity = similarity or BM25Similarity()
        #: (catalog, snapshot, seg_id offset) per sub-index
        self._subs: list[tuple[SnapshotCatalog, object, int]] = []
        #: seg_id → segment directory, what each map_segments task reads
        self.seg_dirs: dict[int, str] = {}
        #: the term dictionaries _global_stats reads on the driver
        self.term_stats_paths: list[str] = []
        # liveDocs: tombstones mask results at collection time; stats stay
        # stale until merge, like the reference (.liv semantics). Soft
        # tombstones mask IDENTICALLY for readers (PendingSoftDeletes
        # folds the soft-deletes DV into the same liveDocs bitset) —
        # hard vs soft only diverge at merge time (retention policy).
        self.deletes: dict[int, np.ndarray] = {}
        self.doc_count = 0
        self.sum_ttf = 0
        offset = 0
        for index_dir, snapshot_id in indexes:
            cat = SnapshotCatalog(index_dir)
            snap = cat.load(snapshot_id)
            if snap is None:
                raise ValueError(f"no snapshot in {index_dir}")
            check_codec_version(snap)
            self._subs.append((cat, snap, offset))
            self.seg_dirs.update({int(s) + offset: cat.segment_dir(s)
                                  for s in snap.seg_ids})
            if snap.term_stats_path:
                self.term_stats_paths.append(snap.term_stats_path)
            for key in ("deletes", "soft_deletes"):
                for s, ids in load_deletes(cat, snap, key=key).items():
                    prev = self.deletes.get(s + offset)
                    self.deletes[s + offset] = ids if prev is None else \
                        np.unique(np.concatenate((prev, ids)))
            self.doc_count += int(snap.field_stats["doc_count"])
            self.sum_ttf += int(snap.field_stats["sum_total_term_freq"])
            offset += (max(snap.seg_ids) + 1) if snap.seg_ids else 0
        self.catalog, self.snapshot = (self._subs[0][:2]
                                       if len(self._subs) == 1
                                       else (None, None))
        # LRUQueryCache role: match-set cache for repeated filter queries
        self._filter_cache: "OrderedDict[str, object]" = OrderedDict()  # key -> persisted DataFrame
        self._filter_uses: dict[str, int] = {}
        self._filter_cache_max = 32
        self.cache_hits = 0

    def _union_subs(self, frames: list):
        """Sub-index i's DataFrame ``frames[i]`` (in its own seg_id space)
        unioned into the reader's, seg_id shifted by each offset."""
        from pyspark.sql import functions as F
        return reduce(lambda a, b: a.unionByName(b), (
            df.withColumn("seg_id", (F.col("seg_id") + off).cast("int"))
            if off else df for df, (_, _, off) in zip(frames, self._subs)))

    @cached_property
    def _doc_metas(self) -> list:
        """Each sub-index's doc_meta scan, in its own seg_id space."""
        import os
        return [self.spark.read.parquet(
                    *[os.path.join(cat.segment_dir(s), "doc_meta.parquet")
                      for s in snap.seg_ids])
                for cat, snap, _ in self._subs]

    @cached_property
    def doc_meta(self):
        """Every doc's stored fields, docvalues and norms as one DataFrame
        (``seg_id, local_doc_id, doc_id, …``), built on first use."""
        return self._union_subs(self._doc_metas)

    def term_vectors(self, doc_ids_df):
        """The stored term vectors ``(doc_id, terms, starts, ends)`` of the
        docs in ``doc_ids_df`` (a ``doc_id`` column), read from every
        sub-index's sidecar with seg_id shifted like ``doc_meta``. The
        newest segment's vector wins per doc: it is the live one across
        updateDocument generations. Raises ``ValueError`` when an index
        was built without ``store_term_vectors``."""
        import os

        from pyspark.sql import Window
        from pyspark.sql import functions as F
        if not all((snap.extra or {}).get("term_vectors")
                   for _, snap, _ in self._subs):
            raise ValueError("index was built without store_term_vectors")
        tvs = self._union_subs([
            self.spark.read.parquet(os.path.join(cat.root, "term_vectors"))
            for cat, _, _ in self._subs])
        w = Window.partitionBy("doc_id").orderBy(F.col("seg_id").desc())
        return (tvs.join(F.broadcast(doc_ids_df.select("doc_id")), "doc_id")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn", "seg_id"))

    @cached_property
    def term_stats(self):
        """The term dictionary ``(term, df, ttf, …)`` as a DataFrame, built
        on first use (None when the index has none). Several dictionaries
        (MultiSearcher) union and sum per term — TermStates.build
        accumulates across ALL leaves; one is a plain scan."""
        from pyspark.sql import functions as F
        paths = self.term_stats_paths
        if len(paths) <= 1:
            return self.spark.read.parquet(paths[0]) if paths else None
        parts = [self.spark.read.parquet(p).select("term", "df", "ttf")
                 for p in paths]
        return (reduce(lambda a, b: a.unionByName(b), parts)
                .groupBy("term")
                .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf")))

    # -- docvalues ---------------------------------------------------------
    def docvalues(self, field: str):
        """Resolved numeric docvalues for ``field`` as ``(seg_id,
        local_doc_id, doc_id, value)`` — the base doc_meta column overlaid
        with committed ``updateNumericDocValue`` generations
        (``index/ReadersAndUpdates.java:287`` reader-side resolution)."""
        from .docvalues import read_docvalues
        return self._union_subs([
            read_docvalues(self.spark, cat, snap, meta, field)
            for (cat, snap, _), meta in zip(self._subs, self._doc_metas)])

    def drop_deleted(self, df):
        """``df`` minus its tombstoned ``(seg_id, local_doc_id)`` rows —
        liveDocs for DataFrame paths, as a broadcast left-anti join."""
        if not self.deletes:
            return df
        from pyspark.sql import functions as F
        tomb = pd.DataFrame({
            "seg_id": np.concatenate([np.full(len(v), sg, np.int32)
                                      for sg, v in self.deletes.items()]),
            "local_doc_id": np.concatenate([v.astype(np.int32) for v in
                                            self.deletes.values()])})
        tomb = local_frame(self.spark, tomb, "seg_id int, local_doc_id int")
        return df.join(F.broadcast(tomb),
                       on=["seg_id", "local_doc_id"], how="left_anti")

    def feature_query(self, field: str, function: str = "log",
                      weight: float = 1.0, pivot: float | None = None,
                      a: float | None = None):
        """FeatureQuery over a static-rank feature column: ``(doc_id,
        score float)`` for every live doc carrying the feature, scored
        with the reference's log / saturation / sigmoid functions
        (``core/document/FeatureField.java:238,277,331,408``)."""
        from .featurefield import feature_query
        return feature_query(self, field, function, weight, pivot, a)

    def distance_feature_query(self, field: str, origin: int, pivot: int,
                               weight: float = 1.0):
        """LongPoint.newDistanceFeatureQuery: ``(doc_id, score float)``
        = weight · pivot / (pivot + |value − origin|) over a numeric
        docvalues field (``core/document/LongDistanceFeatureQuery.java:117``)."""
        from .featurefield import distance_feature_query
        return distance_feature_query(self, field, origin, pivot, weight)

    # -- stats -------------------------------------------------------------
    def _global_stats(self, terms: list[str]) \
            -> tuple[dict[str, int], dict[str, int]]:
        """(dfs, ttfs) per term in one dictionary probe (TermStates.build
        role: global stats before scoring), read on the driver. The
        dictionary files are range-bucketed and term-sorted, so the pushed
        ``term in`` filter prunes row groups and the read is bounded by
        ``terms``; several dictionaries (MultiSearcher) sum."""
        import pyarrow.parquet as pq
        dfs: dict[str, int] = {}
        ttfs: dict[str, int] = {}
        terms = sorted(set(terms))
        if not terms:
            return dfs, ttfs
        for path in self.term_stats_paths:
            t = pq.read_table(path, columns=["term", "df", "ttf"],
                              filters=[("term", "in", terms)])
            for term, df, ttf in zip(*(t.column(c).to_pylist()
                                       for c in ("term", "df", "ttf"))):
                dfs[term] = dfs.get(term, 0) + df
                ttfs[term] = ttfs.get(term, 0) + ttf
        return dfs, ttfs

    # -- per-segment execution -----------------------------------------------
    def map_segments(self, terms, kernel, schema: str,
                     cache: np.ndarray | None = None,
                     sim: Similarity | None = None):
        """Run ``kernel(seg_id, ctx, gids)`` once per segment holding any
        of the strings ``terms`` — the one per-segment execution every
        postings kernel runs through. A shuffle-free job fans out over the
        segments (:func:`fan_out`); each item is ``(seg_id, segment
        directory, that segment's tombstones)``, and its task takes the
        terms' postings rows from the segment's reader
        (:func:`~lucene_spark.operators.segreader.open_segment`), which the
        task's Python worker keeps open across queries; the first query
        to reach a segment in a worker reads its whole ``postings.parquet``,
        with no pushed filter. A segment with no matching postings is
        skipped before its norms are read. The kernel gets the segment's
        :class:`_SegContext` (postings rows by term, norm bytes, liveDocs,
        ``cache``, ``sim`` — default the searcher's) and its global doc
        ids, and returns a pandas frame of the DDL ``schema``, or None for
        no rows."""
        from .segreader import open_segment
        sim = sim or self.similarity
        terms = sorted(set(terms))

        def run(item):
            seg_id, seg_dir, tombstones = item
            reader = open_segment(seg_dir, terms)
            rows = reader.rows(terms)
            if not rows:
                return None
            norm_bytes, gids = reader.norms()
            ctx = _SegContext(rows, norm_bytes, cache, sim,
                              live=_live_mask({seg_id: tombstones}, seg_id,
                                              len(norm_bytes)))
            return kernel(seg_id, ctx, gids)

        items = [(s, d, self.deletes.get(s))
                 for s, d in sorted(self.seg_dirs.items())] if terms else []
        return fan_out(self.spark, items, run, schema)

    # -- search ------------------------------------------------------------
    def point_range_docs(self, pr):
        """PointRangeQuery execution (reference ``search/PointRangeQuery
        .java`` built by ``PointRangeQueryNodeBuilder``): a pushed
        Between scan over the overlay-resolved numeric docvalues,
        tombstones masked — ``(doc_id, score float32 = boost)``. Bounds
        in the node are already inclusive (the parser applied the
        exclusive adjustment); None = unbounded."""
        from pyspark.sql import functions as F
        dv = self.docvalues(pr.field)
        if pr.lower is not None:
            dv = dv.filter(F.col("value") >= pr.lower)
        if pr.upper is not None:
            dv = dv.filter(F.col("value") <= pr.upper)
        return self.drop_deleted(dv).select(
            "doc_id",
            F.lit(float(np.float32(pr.boost))).cast("float")
             .alias("score"))

    @staticmethod
    def _split_point_clauses(query):
        """Decompose a query mixing PointRange clauses with term scoring
        into ``(term_part|None, must_points, not_points)``; None when the
        query has no PointRange. Supported shapes: standalone PointRange,
        And(...) members, Not(positive, PointRange) — the
        filter-conjunction forms BooleanWeight builds for point clauses.
        Points nested anywhere else raise."""
        def has_point(q):
            if isinstance(q, Q.PointRange):
                return True
            import dataclasses
            if dataclasses.is_dataclass(q):
                for f in dataclasses.fields(q):
                    v = getattr(q, f.name)
                    for item in (v if isinstance(v, tuple) else (v,)):
                        if isinstance(item, Q.Query) and has_point(item):
                            return True
            return False

        if not has_point(query):
            return None

        def split(q):
            if isinstance(q, Q.PointRange):
                return None, [q], []
            if isinstance(q, Q.And):
                terms, mp, np_ = [], [], []
                for c in q.clauses:
                    t, m, n = split(c)
                    if t is not None:
                        terms.append(t)
                    mp += m
                    np_ += n
                tp = (terms[0] if len(terms) == 1
                      else Q.And(tuple(terms)) if terms else None)
                return tp, mp, np_
            if isinstance(q, Q.Not):
                t, m, n = split(q.positive)
                if isinstance(q.negative, Q.PointRange):
                    return t, m, n + [q.negative]
                if has_point(q.negative):
                    raise NotImplementedError(
                        "PointRange under a composite MUST_NOT clause")
                if t is None:
                    raise NotImplementedError(
                        "pure-point positive with term MUST_NOT")
                return Q.Not(t, q.negative), m, n
            if has_point(q):
                raise NotImplementedError(
                    f"PointRange nested under {type(q).__name__} is not "
                    "supported (And/Not/standalone only)")
            return q, [], []

        return split(query)

    def _search_points(self, term_part, must_points, not_points,
                       k: int, mode: str,
                       after: tuple[float, int] | None):
        """Filter-conjunction execution for point-bearing queries: the
        term part scores through the normal kernels (score_all — no
        truncation, the filter changes the match set), point clauses
        semi/anti-join on doc_id, and each MUST point adds its constant
        score — one double-precision sum, one float32 cast
        (ConjunctionScorer's score chain)."""
        from pyspark.sql import functions as F

        const = float(sum(np.float64(np.float32(p.boost))
                          for p in must_points))
        if term_part is not None:
            base = self.score_all(term_part)
            if const:
                base = base.withColumn(
                    "score", (F.col("score").cast("double")
                              + F.lit(const)).cast("float"))
            filt = must_points
        else:
            base = self.point_range_docs(must_points[0]).select(
                "doc_id",
                F.lit(float(np.float32(const))).cast("float")
                 .alias("score"))
            filt = must_points[1:]
        for p in filt:
            base = base.join(self.point_range_docs(p).select("doc_id"),
                             "doc_id", "semi")
        for p in not_points:
            base = base.join(self.point_range_docs(p).select("doc_id"),
                             "doc_id", "anti")
        if after is not None:
            s0, d0 = float(np.float32(after[0])), int(after[1])
            base = base.filter(
                (F.col("score") < s0)
                | ((F.col("score") == s0) & (F.col("doc_id") > d0)))
        return ranked_top_k(self.spark, base.select("doc_id", "score"),
                            "score", False, k)

    def search(self, query, k: int = 10, mode: str = "auto",
               after: tuple[float, int] | None = None):
        """Returns a DataFrame (doc_id, score float32, rank) of the global
        top-k; ``after=(score, doc_id)`` pages past a previous hit
        (searchAfter: ``search/IndexSearcher.java:490-546``). The ≤ k·S
        per-segment candidates are merged on the driver (TopDocs.merge)."""
        pointsplit = self._split_point_clauses(query)
        if pointsplit is not None:
            return self._search_points(*pointsplit, k=k, mode=mode,
                                       after=after)

        compiled, cache = self._compile(query)
        if compiled is None:
            return empty_frame(self.spark,
                               "doc_id long, score float, rank int")

        def seg_topk(seg_id, ctx, gids):
            g, s, _ = score_segment(compiled, ctx.rows, ctx.norms, gids,
                                    cache, k, mode, after, ctx=ctx)
            return pd.DataFrame({"doc_id": g, "score": s.astype(np.float32)})

        return merged_top_k(self.spark, self.map_segments(
            _compiled_terms(compiled), seg_topk, "doc_id long, score float",
            cache), k)

    def _term_columns(self, bounds):
        """Each dictionary's ``term`` column, read on the driver with
        ``bounds`` pushed into the read: a prefix, a range or a wildcard
        with a literal prefix reads only its byte range, while regexp,
        fuzzy and a leading wildcard read the whole column, a read
        bounded by the vocabulary."""
        import pyarrow.parquet as pq
        for path in self.term_stats_paths:
            yield pq.read_table(
                path, columns=["term"],
                filters=[("term", op, b) for op, b in bounds] or None
            ).column("term").to_numpy()

    def auto_stop_words(self, max_percent_docs: float | None = None,
                        max_doc_freq: int | None = None,
                        max_terms: int = 10_000) -> frozenset:
        """QueryAutoStopWordAnalyzer.addStopWords (reference
        ``analysis/common/.../query/QueryAutoStopWordAnalyzer.java``):
        terms whose document frequency exceeds the threshold — an
        absolute ``max_doc_freq`` or ``max_percent_docs``·numDocs —
        become QUERY-TIME stopwords. The index keeps its postings;
        ``plans.parser.parse(text, stopwords=<this set>)`` drops them
        from query text, the reference's analyzer-wrapper effect. One
        pushed ``df > threshold`` filter over the distributed term_stats
        scan; the result is small by construction (only df-heavy terms
        qualify), capped deterministically at ``max_terms`` by df desc,
        term asc."""
        from pyspark.sql import functions as F
        if (max_percent_docs is None) == (max_doc_freq is None):
            raise ValueError("exactly one of max_percent_docs / "
                             "max_doc_freq must be given")
        thresh = (float(max_doc_freq) if max_doc_freq is not None
                  else float(max_percent_docs) * self.doc_count)
        rows = (self.term_stats.filter(F.col("df") > thresh)
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(max_terms).select("term").collect())
        return frozenset(r["term"] for r in rows)

    def docs_matching_any(self, terms: list[str]):
        """Constant-score union of exact terms (TermInSetQuery / the
        CONSTANT_SCORE MultiTermQuery rewrite): DataFrame (doc_id long)."""
        if not terms:
            return empty_frame(self.spark, "doc_id long")
        return self.matching_docs(
            Q.Or(tuple(Q.Term(t) for t in sorted(set(terms)))))

    def score_all(self, query):
        """All matching docs with their float32 scores as a DataFrame
        ``(doc_id long, score float)`` — no top-k truncation. This is the
        substrate for facet counts, grouping and function queries (the
        reference's Collector extension point): downstream DataFrame ops
        (joins to doc metadata, groupBy, windows) stay in Catalyst.

        Scale note: output is one row per match — it never shuffles the
        postings themselves, and the per-segment kernel emits Arrow batches
        that downstream aggregations consume with map-side partial
        aggregation."""
        compiled, cache = self._compile(query)
        out_schema = "doc_id long, score float"
        if compiled is None:
            return empty_frame(self.spark, out_schema)

        def seg_all(seg_id, ctx, gids):
            mask, scores = _eval_range(compiled, ctx, 0, len(ctx.norms))
            if ctx.live is not None:
                mask &= ctx.live
            lids = np.nonzero(mask)[0]
            return pd.DataFrame({"doc_id": gids[lids],
                                 "score": scores[lids].astype(np.float32)})

        return self.map_segments(_compiled_terms(compiled), seg_all,
                                 out_schema, cache)

    def covering(self, clauses, min_match: int = 1, min_match_df=None):
        """CoveringQuery (reference ``sandbox/search/CoveringQuery.java:51``
        + ``CoveringScorer.java:132-143``): matches documents where at
        least minMatch of the sub-queries match; score = sum of the
        matching sub-queries' scores. ``min_match`` is the constant
        LongValuesSource; ``min_match_df`` a ``(doc_id, min_match)``
        DataFrame for the per-doc LongValuesSource role — a doc absent
        from it can never match (the scorer's Long.MAX_VALUE sentinel)
        and values < 1 clamp to 1. Returns (doc_id, matched_count,
        score float32) for all matches.

        Scale shape: each clause is one pushed-postings-scan kernel
        branch; the union aggregates map-side (count + double-sum carry
        partial aggregation below the single doc_id exchange), and the
        min-match join shuffles only the ≤|matches| aggregated rows.
        Sub-scores sum in float64 then cast, the engine's BooleanQuery
        SHOULD convention (shared by oracle and SQL twin)."""
        from pyspark.sql import functions as F

        parts = [self.score_all(c) for c in clauses]
        u = reduce(lambda a, b: a.unionAll(b), parts)
        agg = (u.groupBy("doc_id")
               .agg(F.count("*").alias("matched_count"),
                    F.sum(F.col("score").cast("double")).alias("_ssum")))
        if min_match_df is not None:
            mm = min_match_df.select(
                F.col("doc_id"),
                F.greatest(F.col("min_match").cast("long"),
                           F.lit(1).cast("long")).alias("_mm"))
            agg = agg.join(mm, "doc_id")         # inner: absent → no match
        else:
            agg = agg.withColumn(
                "_mm", F.lit(max(int(min_match), 1)).cast("long"))
        return (agg.where(F.col("matched_count") >= F.col("_mm"))
                .select("doc_id", "matched_count",
                        F.col("_ssum").cast("float").alias("score")))

    def field_exists(self, field: str):
        """FieldExistsQuery role (reference ``search/FieldExistsQuery
        .java``): DataFrame ``(doc_id long)`` of live docs carrying a
        non-null value for the docvalues ``field`` (overlay-resolved) —
        a pushed IsNotNull scan of doc_meta, tombstones masked."""
        from pyspark.sql import functions as F
        dv = self.docvalues(field).where(F.col("value").isNotNull())
        return self.drop_deleted(dv).select("doc_id")

    def docvalues_in_set(self, field: str, values):
        """DocValuesNumbersQuery role (reference ``sandbox/search/
        DocValuesNumbersQuery.java:47-100``; DocValuesTermsQuery is the
        same shape over sorted terms): live docs whose overlay-resolved
        numeric docvalue for ``field`` is in ``values`` — a pushed
        ``In(value, …)`` scan of doc_meta (plus the bounded overlay),
        tombstones masked, no per-doc work off the scan."""
        from pyspark.sql import functions as F
        vals = [int(v) for v in values]
        dv = self.docvalues(field).where(F.col("value").isin(vals))
        return self.drop_deleted(dv).select("doc_id", "value")

    def payloads_for_query(self, query):
        """PayloadSpanUtil.getPayloadsForQuery (reference
        ``sandbox/src/java/org/apache/lucene/payloads/PayloadSpanUtil
        .java:44-140``): the payloads of every token occurrence inside a
        matching span of the query. Query conversion mirrors the
        reference: Boolean/DisjunctionMax recurse into every
        non-prohibited clause INDEPENDENTLY (clause payloads union, no
        intersection — :69-76); TermQuery → SpanTermQuery; exact
        PhraseQuery → ordered SpanNear (:77-92; slop > 0 conversion out
        of scope here — the engine raises). Returns ``(doc_id, term,
        pos, payload float)`` rows, one per collected occurrence.

        Scale: one pushed postings scan per segment; the phrase spans
        reuse the exact-phrase key-intersection kernel."""
        specs: list[tuple[str, ...]] = []

        def walk(node):
            if isinstance(node, Q.Term):
                specs.append((node.term,))
            elif isinstance(node, Q.Phrase):
                if node.slop != 0:
                    raise NotImplementedError(
                        "PayloadSpanUtil sloppy-phrase conversion is out "
                        "of scope (exact phrases only)")
                specs.append(tuple(node.terms))
            elif isinstance(node, Q.SpanNear):
                if node.slop != 0 or not node.in_order \
                        or not all(isinstance(t, str) for t in node.terms):
                    raise NotImplementedError(
                        "only exact ordered term SpanNear supported")
                specs.append(tuple(node.terms))
            elif isinstance(node, (Q.Or, Q.And, Q.DisMax)):
                for ch in node.clauses:
                    walk(ch)
            elif isinstance(node, Q.Not):
                walk(node.positive)     # prohibited clause skipped (:69)
            else:
                raise NotImplementedError(
                    f"PayloadSpanUtil conversion for {type(node).__name__}")

        walk(query)
        terms = sorted({t for s in specs for t in s})
        schema = "doc_id long, term string, pos int, payload float"
        if not terms:
            return empty_frame(self.spark, schema)
        BIG = np.int64(1) << np.int64(32)

        def seg_payloads(seg_id, ctx, gids):
            streams = {}
            for t in terms:
                tp = ctx.tp(t)
                if tp is None:
                    continue
                pays = tp.payloads()
                if pays is None:
                    raise ValueError("payloads_for_query over an index "
                                     "built without payload_delimiter")
                ids, tfs = tp.decode_all()
                docs_rep = np.repeat(ids, tfs)
                pos = tp.positions()
                if ctx.live is not None:
                    keep = ctx.live[docs_rep]
                    docs_rep, pos, pays = (docs_rep[keep], pos[keep],
                                           pays[keep])
                streams[t] = (docs_rep, pos, pays)
            out_d, out_t, out_p, out_y = [], [], [], []
            for spec in specs:
                if any(t not in streams for t in spec):
                    continue
                if len(spec) == 1:
                    d, p, y = streams[spec[0]]
                    out_d.append(d)
                    out_t.append(np.full(len(d), spec[0], dtype=object))
                    out_p.append(p)
                    out_y.append(y)
                    continue
                L = len(spec)
                inter = None
                for j, t in enumerate(spec):
                    d, p, _ = streams[t]
                    keys = d * BIG + (p - j + L)
                    inter = keys if inter is None else \
                        np.intersect1d(inter, keys, assume_unique=True)
                    if len(inter) == 0:
                        break
                if inter is None or len(inter) == 0:
                    continue
                for j, t in enumerate(spec):
                    d, p, y = streams[t]
                    sel = np.isin(d * BIG + (p - j + L), inter,
                                  assume_unique=True)
                    out_d.append(d[sel])
                    out_t.append(np.full(int(sel.sum()), t, dtype=object))
                    out_p.append(p[sel])
                    out_y.append(y[sel])
            if not out_d:
                return None
            return pd.DataFrame(
                {"doc_id": gids[np.concatenate(out_d)],
                 "term": np.concatenate(out_t),
                 "pos": np.concatenate(out_p).astype(np.int32),
                 "payload": np.concatenate(out_y).astype(np.float32)})

        return self.map_segments(terms, seg_payloads, schema)

    def docvalues_terms_in_set(self, field: str, values):
        """DocValuesTermsQuery (reference ``sandbox/search/
        DocValuesTermsQuery.java:62-105``): live docs whose SORTED
        (string) docvalue is in the set — the same pushed ``In(value,…)``
        doc_meta scan as :meth:`docvalues_in_set`, minus the numeric
        overlay (sorted docvalues have no update generations in the
        reference either)."""
        from pyspark.sql import functions as F
        vals = [str(v) for v in values]
        dv = (self.doc_meta
              .select("seg_id", "local_doc_id", "doc_id",
                      F.col(field).cast("string").alias("value"))
              .where(F.col("value").isin(vals)))
        return self.drop_deleted(dv).select("doc_id", "value")

    def high_freq_terms(self, num_terms: int = 100,
                        by: str = "df"):
        """HighFreqTerms (reference
        ``misc/src/java/org/apache/lucene/misc/HighFreqTerms.java:43``):
        the top ``num_terms`` dictionary terms by document frequency
        (``by="df"``, DocFreqComparator) or total term frequency
        (``by="ttf"``, TotalTermFreqComparator), ties broken by term
        ascending (the reference's BytesRef comparator). One
        TakeOrderedAndProject over the term_stats scan — no exchange."""
        from pyspark.sql import functions as F
        if by not in ("df", "ttf"):
            raise ValueError(f"by must be 'df' or 'ttf', got {by!r}")
        return (self.term_stats
                .select("term", "df", "ttf")
                .orderBy(F.desc(by), F.asc("term"))
                .limit(num_terms))

    def rescore(self, first_pass, query, weight: float, topn: int = 10):
        """QueryRescorer.rescore sugar combine (reference
        ``core/search/QueryRescorer.java:175-193`` over the abstract
        two-pass rescore at ``:48-140``): re-score the first-pass hits
        with a second query and combine as

            combined = (float)(firstPassScore + weight * secondPassScore)

        when the second query matches the hit (Java's compound
        assignment ``score += weight * secondPassScore`` widens the
        float to double, multiplies by the double weight, and narrows
        back), else the first-pass float score unchanged; sort by
        (combined DESC, doc_id ASC) and truncate to ``topn``
        (``:113-137``).

        Shape: the ≤k first-pass rows come to the driver, the second
        query scores once over its own postings scan (``score_all``)
        filtered to those doc ids, and the combine runs on the driver in
        the same double-then-float arithmetic; :func:`ranked_top_k`
        truncates and ranks. No exchange, no broadcast."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        hits = first_pass.select("doc_id", "score").toPandas()
        second = (self.score_all(query)
                  .where(F.col("doc_id").isin(
                      [int(d) for d in hits["doc_id"]]))
                  .withColumnRenamed("score", "second_s").toPandas())
        both = hits.merge(second, on="doc_id", how="left")
        first_s = both["score"].to_numpy(np.float32)
        second_s = both["second_s"].to_numpy(np.float64)
        both["score"] = np.where(
            np.isnan(second_s), first_s,
            (first_s.astype(np.float64) + float(weight) * second_s)
            .astype(np.float32))
        return ranked_top_k(self.spark, pa.Table.from_pandas(
            both[["doc_id", "score"]], preserve_index=False),
            "score", False, topn)

    def sorted_top_k(self, k: int = 10, ascending: bool | None = None):
        """Early-terminating top-k by the index sort field (reference
        ``index/IndexSorter.java:44`` + TopFieldCollector's
        sorted-segment early termination): segments built with
        ``sort_field`` are PHYSICALLY ordered by the key, so each
        segment's candidate set is its first ``k`` live rows —
        ``local_doc_id < k`` is a pushed parquet predicate, no
        per-segment sort, and the global merge is one
        TakeOrderedAndProject over ≤ k·S rows (the TopDocs.merge shape).

        ``ascending`` must match the index sort direction (like the
        reference, which only early-terminates when the query sort is a
        prefix of the index sort); None = the index direction. Returns
        (doc_id, <field>, rank). Over several sub-indexes every one must
        record the same index sort."""
        from pyspark.sql import functions as F
        sorts = [(snap.extra or {}).get("index_sort")
                 for _, snap, _ in self._subs]
        info = sorts[0]
        if any(s != info for s in sorts):
            raise ValueError(f"sub-indexes record different index sorts: "
                             f"{sorts}")
        if not info:
            raise ValueError("index was not built with sort_field — "
                             "sorted_top_k needs a sorted index")
        field, idx_asc = info["field"], bool(info["ascending"])
        if ascending is None:
            ascending = idx_asc
        if ascending != idx_asc:
            raise ValueError(
                f"query direction ({'asc' if ascending else 'desc'}) must "
                f"match the index sort ({'asc' if idx_asc else 'desc'}) "
                "for early termination")
        # tombstones shift live prefixes: widen each segment's cutoff by
        # its tombstone count, then drop the tombstoned rows
        widen = {int(s): int(len(v)) for s, v in self.deletes.items()}
        cand = self.doc_meta
        if widen:
            wmap = F.create_map(*[F.lit(x) for kv in widen.items()
                                  for x in kv])
            cutoff = F.lit(k) + F.coalesce(wmap[F.col("seg_id")], F.lit(0))
            cand = self.drop_deleted(
                cand.filter(F.col("local_doc_id") < cutoff))
        else:
            cand = cand.filter(F.col("local_doc_id") < k)
        return ranked_top_k(self.spark, cand.select("doc_id", field),
                            field, ascending, k)

    def matching_docs(self, query, use_cache: bool = True):
        """DataFrame ``(doc_id long)`` of every match — constant-score
        execution (the reference's ConstantScoreQuery / FILTER clause path:
        matches without scores).

        Filter-style match sets are LRU-cached against this immutable
        snapshot after a query repeats (LRUQueryCache +
        UsageTrackingQueryCachingPolicy role: the reference caches
        per-segment doc-id sets of FILTER clauses once a query recurs;
        ``search/LRUQueryCache.java``, ``UsageTrackingQueryCachingPolicy
        .java``). Safe because snapshots never mutate — delete/append
        create new generations and new Searchers.

        The cached value is a persisted DataFrame (executor disk, like the
        reference's per-segment cached BitSet living off-heap per reader) —
        the match set NEVER routes through the driver, so a common-term
        FILTER with millions of matches costs no driver memory; eviction
        unpersists."""
        from pyspark import StorageLevel

        key = repr(parse_query(query) if isinstance(query, str) else query)
        if use_cache:
            if key in self._filter_cache:
                self._filter_cache.move_to_end(key)
                self.cache_hits += 1
                return self._filter_cache[key]
            self._filter_uses[key] = self._filter_uses.get(key, 0) + 1
        res = self.score_all(query).select("doc_id")
        if use_cache and self._filter_uses.get(key, 0) >= 2:
            cached = res.persist(StorageLevel.DISK_ONLY)
            self._filter_cache[key] = cached
            while len(self._filter_cache) > self._filter_cache_max:
                _, old = self._filter_cache.popitem(last=False)
                old.unpersist()
            return cached
        return res

    def search_many(self, queries: dict[str, object], k: int = 10,
                    mode: str = "auto"):
        """Batch top-k for a whole query workload in ONE job — the shape a
        cluster actually runs: the queries compile with one dictionary
        probe (:meth:`_compile_many`), each segment task takes the union of
        their terms' postings rows from its reader, decodes each row ONCE
        into a shared block cache and scores every query against it. Job
        overhead and segment decode amortize over the workload instead of
        per query. Each query's ≤ k·S per-segment candidates are merged on
        the driver, as :meth:`search` merges (:func:`merged_top_k`).

        Returns DataFrame (query_id string, doc_id long, score float,
        rank int)."""
        compiled, cache = self._compile_many(queries)
        compiled = {qid: c for qid, c in compiled.items() if c is not None}
        out_schema = "query_id string, doc_id long, score float"
        if not compiled:
            return empty_frame(self.spark, out_schema + ", rank int")

        def seg_many(seg_id, ctx, gids):
            parts = []
            for qid, comp in compiled.items():   # one shared decode
                g, s, _ = score_segment(comp, ctx.rows, ctx.norms, gids,
                                        cache, k, mode, ctx=ctx)
                if len(g):
                    parts.append(pd.DataFrame({
                        "query_id": qid, "doc_id": g,
                        "score": s.astype(np.float32)}))
            return pd.concat(parts, ignore_index=True) if parts else None

        terms = [t for c in compiled.values() for t in _compiled_terms(c)]
        return merged_top_k(self.spark, self.map_segments(
            terms, seg_many, out_schema, cache), k, by="query_id")

    def explain(self, query, doc_id: int) -> dict:
        """Score breakdown for one document (Weight.explain role:
        reference ``search/Weight.java:128``, BM25's explain at
        ``similarities/BM25Similarity.java:271+``). Term and boolean trees
        are explained on the driver: a pushed ``doc_id`` read of each
        segment's ``doc_meta.parquet`` finds the doc's live copy (a
        tombstoned copy, such as the old one of an updated doc, is
        skipped), then the query's terms' postings rows come from that
        segment's reader (:func:`~lucene_spark.operators.segreader.
        open_segment`), kept open in the driver across calls. Returns a
        nested dict mirroring Lucene's Explanation tree: value,
        description, details."""
        import os

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from .segreader import open_segment

        compiled, cache = self._compile(query)
        if compiled is None:
            return {"match": False, "value": 0.0,
                    "description": "no scorer (all terms absent)"}
        for seg_id, seg_dir in self.seg_dirs.items():
            meta = [m for m in pq.read_table(
                os.path.join(seg_dir, "doc_meta.parquet"),
                columns=["local_doc_id", "doc_len", "norm_byte"],
                filters=[("doc_id", "==", int(doc_id))]).to_pylist()
                if m["local_doc_id"] not in self.deletes.get(seg_id, ())]
            if meta:
                break
        else:
            return {"match": False, "value": 0.0,
                    "description": f"doc {doc_id} not in index"}
        local = int(meta[0]["local_doc_id"])
        norm_byte = int(meta[0]["norm_byte"])
        doc_len = int(meta[0]["doc_len"])
        terms = sorted(set(_compiled_terms(compiled)))
        rows = open_segment(seg_dir, terms).rows(terms) if terms else {}
        tf_of: dict[str, int] = {}
        for r in rows.values():
            ids, tfs = TermSegPostings(r).decode_all()
            j = np.searchsorted(ids, local)
            if j < len(ids) and ids[j] == local:
                tf_of[r["term"]] = int(tfs[j])
        dfs = self._global_dfs(terms)
        avgdl = float(bm25.avg_field_length(self.sum_ttf, self.doc_count))
        inv = float(cache[norm_byte])

        def go(node) -> dict:
            if isinstance(node, CTerm):
                tf = tf_of.get(node.term, 0)
                if tf == 0:
                    return {"match": False, "value": 0.0,
                            "description": f"no occurrence of '{node.term}'"}
                s = float(self.similarity.score(np.array([tf]),
                                                np.array([norm_byte]),
                                                node.weight, cache)[0])
                return {
                    "match": True, "value": s,
                    "description": f"score(term='{node.term}'), computed as "
                                   "weight - weight/(1 + freq*cache[norm])",
                    "details": {
                        "weight(=boost*idf)": (
                            float(node.weight) if np.ndim(node.weight) == 0
                            else [float(x) for x in node.weight]),
                        "df": dfs.get(node.term, 0),
                        "docCount": self.doc_count,
                        "freq": tf,
                        "dl(quantized via SmallFloat byte "
                        f"{norm_byte})": float(LENGTH_TABLE[norm_byte]),
                        "exact_dl": doc_len,
                        "avgdl": avgdl,
                        "norm_inverse": inv,
                    },
                }
            if isinstance(node, (COr, CAnd, CDisMax)):
                kids = [go(k) for k in node.children]
                matched = [k for k in kids if k["match"]]
                if isinstance(node, CAnd) and len(matched) != len(kids):
                    return {"match": False, "value": 0.0,
                            "description": "MUST clause missing",
                            "details": kids}
                if isinstance(node, CDisMax):
                    vals = [k["value"] for k in matched] or [0.0]
                    v = max(vals) + (sum(vals) - max(vals)) * node.tie_breaker
                    desc = "max plus tie-adjusted others (DisjunctionMax)"
                elif isinstance(node, COr) and \
                        len(matched) < max(node.min_should_match, 1):
                    return {"match": False, "value": 0.0,
                            "description": "below minimumNumberShouldMatch",
                            "details": kids}
                else:
                    v = float(np.float32(sum(k["value"] for k in matched)))
                    desc = "sum of clause scores"
                return {"match": bool(matched), "value": v,
                        "description": desc, "details": kids}
            # phrases / synonyms / const-terms: report via full evaluation,
            # filtered to the one requested doc — never collect every match
            row = (self.score_all(query)
                   .filter(F.col("doc_id") == int(doc_id)).collect())
            return {"match": bool(row),
                    "value": float(row[0]["score"]) if row else 0.0,
                    "description": "evaluated by full scorer"}

        return go(compiled)

    def count(self, query) -> int:
        """TotalHitCountCollector analogue — exact match count.

        Constant-time fast path (the reference's ``Weight#count``,
        ``search/TermQuery.java`` count override): a single-term query
        over an index with NO deletes answers from the term dictionary's
        global df — one pushed-predicate stats probe, no postings
        decode. Everything else runs the per-segment match kernel and sums
        its ≤ S per-segment counts on the driver."""
        if isinstance(query, str):
            query = parse_query(query)
        if isinstance(query, Q.Term) and not self.deletes \
                and self.term_stats_paths:
            return self._global_dfs([query.term]).get(query.term, 0)
        compiled, cache = self._compile(query)
        if compiled is None:
            return 0

        def seg_count(seg_id, ctx, gids):
            _, _, hits = score_segment(compiled, ctx.rows, ctx.norms, gids,
                                       cache, 1, "exhaustive", ctx=ctx)
            return pd.DataFrame({"hits": [hits]})

        res = self.map_segments(_compiled_terms(compiled), seg_count,
                                "hits long", cache)
        return sum(int(r["hits"]) for r in res.collect())


class MultiSearcher(Searcher):
    """Search several independent indexes as ONE (the reference's
    composite ``index/MultiReader.java``: sub-readers searched together,
    collection statistics aggregated across all of them, nothing copied
    — contrast ``merge.add_indexes`` which imports files).

    The same reader as :class:`Searcher`, opened over each index's latest
    snapshot: sub-index segment ids shift to disjoint ranges, and global
    stats are the sums over sub-indexes — a query's term stats sum the
    sub-dictionaries on the driver, and the ``term_stats`` DataFrame
    unions and re-aggregates them when first used. Global doc_ids must be
    disjoint across sub-indexes (MultiReader's docBase contract mapped
    onto our global doc_id space; CheckIndex-style uniqueness applies).
    """

    def __init__(self, spark, index_dirs: list[str],
                 similarity: Similarity | None = None):
        if not index_dirs:
            raise ValueError("MultiSearcher needs at least one index")
        self._open(spark, [(d, None) for d in index_dirs], similarity)
        self.index_dir = list(index_dirs)
