"""Span algebra (SpanNearQuery and the span query family) over
positions.

Reference: ``lucene/queries/src/java/org/apache/lucene/queries/spans/``.
A span is a ``(start, end, width)`` triple; ``end`` is exclusive and
``width`` is the reference's ``width()``, the SpanScorer weight input
``1/(1 + width)`` accumulated as ``float += double``
(``SpanScorer.java:106``).

* near — the exact NearSpansOrdered/NearSpansUnordered ports of
  ``functions/nearspans.py``, golden-pinned span-for-span against the
  compiled reference; duplicate clause terms follow the reference's
  iterators.
* or / not / first / position range / containing / within — the span
  tree of :func:`eval_span_tree`, per document, and
  :func:`eval_span_tree_batch`, over doc-major global keys
  ``doc << 32 | pos`` for every document at once.

Phrase scoring lives in ``functions/sloppy.py`` (the exact
SloppyPhraseMatcher walk); this module keeps its float32
``sloppyWeight`` (:func:`sloppy_weights`) and the double-minimal window
kernel that ``functions/intervals.py`` builds on.
"""

from __future__ import annotations

import numpy as np


def sloppy_weights(ml) -> np.ndarray:
    """SloppyPhraseMatcher.sloppyWeight (:169): ``1f/(1f+matchLength)``
    computed in float32 — the PHRASE freq weight."""
    return np.float32(1.0) / (np.float32(1.0)
                              + np.asarray(ml).astype(np.float32))


def _f32_sum_f64(w) -> float:
    """SpanScorer.java:106 / IntervalScorer.java:72 accumulation:
    ``float freq += <double weight>`` — Java compound assignment widens
    freq to double, adds the exact double weight, narrows back to
    float32 EVERY step. np.add.at on a float32 target with float64
    operands performs exactly this per element."""
    w = np.asarray(w, dtype=np.float64)
    if not len(w):
        return 0.0
    acc = np.zeros(1, dtype=np.float32)
    np.add.at(acc, np.zeros(len(w), dtype=np.int64), w)
    return float(acc[0])

_EMPTY_SPANS = np.empty((0, 3), dtype=np.int64)


def term_spans(positions) -> np.ndarray:
    """(start, end, width) triples of one term's occurrences (TermSpans
    role: span [p, p+1), width 0 — ``TermSpans.java:107``)."""
    p = np.asarray(positions, dtype=np.int64)
    if len(p) == 0:
        return _EMPTY_SPANS
    return np.stack([p, p + 1, np.zeros(len(p), dtype=np.int64)], axis=1)


def near_spans(pos_lists: list[np.ndarray], slop: int,
               in_order: bool) -> np.ndarray:
    """(start, end, width) triples of SpanNear matches in one document,
    in the reference iterators' EMISSION ORDER — the exact
    NearSpansOrdered/NearSpansUnordered ports (functions/nearspans.py,
    fuzz-verified span-for-span against the compiled reference,
    tests/data/lucene_diff/spans_fuzz.tsv.gz). ``end`` is exclusive;
    ``width`` is the reference's width() (ordered: sum of internal
    gaps; unordered: maxEnd - minStart), the SpanScorer weight input."""
    n = len(pos_lists)
    if n == 0 or any(len(p) == 0 for p in pos_lists):
        return _EMPTY_SPANS
    if n == 1:
        return term_spans(pos_lists[0])
    from .nearspans import ordered_near_spans, unordered_near_spans
    fn = ordered_near_spans if in_order else unordered_near_spans
    out = fn(pos_lists, slop)
    if not out:
        return _EMPTY_SPANS
    return np.asarray(out, dtype=np.int64).reshape(-1, 3)


def near_spans_over(span_lists: list[np.ndarray], slop: int,
                    in_order: bool) -> np.ndarray:
    """SpanNear over arbitrary CLAUSE SPAN STREAMS (the reference's
    nested ``SpanNearQuery(SpanQuery...)``) — the exact general-stream
    NearSpans ports (functions/nearspans.py): each clause stream is
    consumed in ITS OWN emission order; the output is the reference
    iterator's emission order (starts non-decreasing, ends free).

    * ordered — one candidate per sub[0] span; stretchToOrder ratchets
      each later sub to its first span with ``start >= prev.end``;
      width = Σ inter-span gaps (``NearSpansOrdered.java:116``).
    * unordered — the SpanTotalLengthEndPositionWindow heap walk with
      RUNNING maxEnd / totalSpanLength; width = maxEnd − minStart.
    """
    n = len(span_lists)
    if n == 0 or any(len(s) == 0 for s in span_lists):
        return _EMPTY_SPANS
    if n == 1:
        return span_lists[0]
    from .nearspans import (ordered_near_spans_over,
                            unordered_near_spans_over)
    fn = ordered_near_spans_over if in_order else unordered_near_spans_over
    out = fn(span_lists, slop)
    if not out:
        return _EMPTY_SPANS
    return np.asarray(out, dtype=np.int64).reshape(-1, 3)


def or_spans(span_lists: list[np.ndarray]) -> np.ndarray:
    """Union of clause span streams, (start, end) ordered
    (SpanOrQuery's SpanDisiPriorityQueue merge role)."""
    parts = [s for s in span_lists if len(s)]
    if not parts:
        return _EMPTY_SPANS
    allsp = np.concatenate(parts)
    order = np.lexsort((allsp[:, 1], allsp[:, 0]))
    return allsp[order]


def not_spans(include: np.ndarray, exclude: np.ndarray,
              pre: int = 0, post: int = 0) -> np.ndarray:
    """Spans of ``include`` that do not overlap any ``exclude`` span
    within ``pre`` tokens before / ``post`` tokens after
    (SpanNotQuery(include, exclude, pre, post) — pre = post = 0 is the
    plain exclusion): the include span dilated to
    [s - pre, e + post) must not overlap [s2, e2); overlap iff
    s - pre < e2 and s2 < e + post."""
    if len(include) == 0 or len(exclude) == 0:
        return include
    starts = np.sort(exclude[:, 0])
    # prefix max of ends in start order
    order = np.argsort(exclude[:, 0], kind="mergesort")
    ends_sorted = exclude[order, 1]
    pmax = np.maximum.accumulate(ends_sorted)
    # candidates: exclude spans with start < dilated include end
    idx = np.searchsorted(starts, include[:, 1] + post, side="left")
    has_overlap = (idx > 0) & (pmax[np.maximum(idx - 1, 0)]
                               > include[:, 0] - pre)
    return include[~has_overlap]


def first_spans(spans: np.ndarray, end: int) -> np.ndarray:
    """Spans ending at position <= ``end`` (SpanFirstQuery.java:38-42)."""
    if len(spans) == 0:
        return spans
    return spans[spans[:, 1] <= end]


def _containment(big: np.ndarray, little: np.ndarray) -> np.ndarray:
    """bool mask over ``big``: span i contains SOME little span
    ([s2,e2] within [s,e] iff s <= s2 and e2 <= e)."""
    if len(big) == 0 or len(little) == 0:
        return np.zeros(len(big), dtype=bool)
    order = np.argsort(little[:, 0], kind="mergesort")
    ls = little[order, 0]
    # prefix min of ends in start order: a little span starting >= s with
    # end <= e exists iff min(end of littles in [s..]) over suffix <= e…
    # suffix min of ends for littles with start >= big.start:
    le = little[order, 1]
    suffix_min = np.minimum.accumulate(le[::-1])[::-1]
    idx = np.searchsorted(ls, big[:, 0], side="left")
    ok = idx < len(ls)
    m = np.where(ok, suffix_min[np.minimum(idx, len(ls) - 1)],
                 np.iinfo(np.int64).max)
    return ok & (m <= big[:, 1])


def containing_spans(big: np.ndarray, little: np.ndarray) -> np.ndarray:
    """SpanContainingQuery (``queries/spans/SpanContainingQuery.java``):
    BIG spans that contain at least one little span; each emitted once
    with its own width."""
    return big[_containment(big, little)]


def within_spans(little: np.ndarray, big: np.ndarray) -> np.ndarray:
    """SpanWithinQuery (``queries/spans/SpanWithinQuery.java``): LITTLE
    spans contained in at least one big span."""
    if len(little) == 0 or len(big) == 0:
        return _EMPTY_SPANS
    order = np.argsort(big[:, 0], kind="mergesort")
    bs = big[order, 0]
    be = big[order, 1]
    # little [s2,e2] within some big iff exists big with start <= s2 and
    # end >= e2: prefix max of big ends over bigs with start <= s2
    prefix_max = np.maximum.accumulate(be)
    idx = np.searchsorted(bs, little[:, 0], side="right")
    ok = idx > 0
    m = np.where(ok, prefix_max[np.maximum(idx - 1, 0)],
                 np.iinfo(np.int64).min)
    return little[ok & (m >= little[:, 1])]


def spans_freq(spans: np.ndarray) -> float:
    """SpanScorer freq accumulation: Σ 1/(1 + width) over emitted spans
    (``SpanScorer.java:106``)."""
    if len(spans) == 0:
        return 0.0
    return _f32_sum_f64(1.0 / (1.0 + spans[:, 2].astype(np.float64)))


def eval_span_tree(tree, pmap: dict[str, np.ndarray]) -> np.ndarray:
    """Evaluate a compiled span tree against one document's
    term → sorted-positions map. Tree grammar (nested tuples):

      ("term", t) | ("near", terms, slop, in_order)
      | ("nearspans", (child, ...), slop, in_order)   — nested SpanNear
      | ("or", (child, ...)) | ("not", include, exclude)
      | ("notwin", include, exclude, pre, post)
      | ("first", child, end) | ("posrange", child, start, end)
      | ("contain", big, little) | ("within", little, big)
    """
    kind = tree[0]
    if kind == "term":
        return term_spans(pmap.get(tree[1], ()))
    if kind == "near":
        return near_spans([pmap.get(t, np.empty(0, np.int64))
                           for t in tree[1]], tree[2], tree[3])
    if kind == "nearspans":
        return near_spans_over([eval_span_tree(c, pmap) for c in tree[1]],
                               tree[2], tree[3])
    if kind == "or":
        return or_spans([eval_span_tree(c, pmap) for c in tree[1]])
    if kind == "not":
        return not_spans(eval_span_tree(tree[1], pmap),
                         eval_span_tree(tree[2], pmap))
    if kind == "notwin":
        return not_spans(eval_span_tree(tree[1], pmap),
                         eval_span_tree(tree[2], pmap),
                         tree[3], tree[4])
    if kind == "first":
        return first_spans(eval_span_tree(tree[1], pmap), tree[2])
    if kind == "posrange":
        sp = eval_span_tree(tree[1], pmap)
        if len(sp) == 0:
            return sp
        return sp[(sp[:, 0] >= tree[2]) & (sp[:, 1] <= tree[3])]
    if kind == "contain":
        return containing_spans(eval_span_tree(tree[1], pmap),
                                eval_span_tree(tree[2], pmap))
    if kind == "within":
        return within_spans(eval_span_tree(tree[1], pmap),
                            eval_span_tree(tree[2], pmap))
    raise TypeError(f"unknown span tree node {tree!r}")


def span_tree_terms(tree, positive_only: bool = False) -> list[str]:
    """Leaf terms of a span tree; ``positive_only`` drops exclude sides
    (the reference builds the similarity weight from include termStates
    only, ``SpanNotQuery.java:117``)."""
    kind = tree[0]
    if kind == "term":
        return [tree[1]]
    if kind == "near":
        return list(tree[1])
    if kind == "nearspans":
        out = []
        for c in tree[1]:
            out.extend(span_tree_terms(c, positive_only))
        return out
    if kind == "or":
        out = []
        for c in tree[1]:
            out.extend(span_tree_terms(c, positive_only))
        return out
    if kind in ("not", "notwin"):
        inc = span_tree_terms(tree[1], positive_only)
        if positive_only:
            return inc
        return inc + span_tree_terms(tree[2], positive_only)
    if kind in ("first", "posrange"):
        return span_tree_terms(tree[1], positive_only)
    if kind in ("contain", "within"):
        # SpanContainQuery extracts termStates from BOTH sides
        return (span_tree_terms(tree[1], positive_only)
                + span_tree_terms(tree[2], positive_only))
    raise TypeError(f"unknown span tree node {tree!r}")


def span_near_freq(pos_lists: list[np.ndarray], slop: int,
                   in_order: bool) -> float:
    """Accumulated sloppy frequency of SpanNear matches in one document.

    ``pos_lists``: one sorted int array of positions per clause term.
    """
    return spans_freq(near_spans(pos_lists, slop, in_order))


# ---------------------------------------------------------------------------
# Batched (cross-document vectorized) kernels
#
# The per-doc matchers above pay one Python call + small-array numpy
# overhead per candidate document — fine for rare-term conjunctions,
# quadratic-feeling for two COMMON terms where the candidate set is a
# large fraction of the segment. The kernels below run ONE numpy pass
# over every candidate document at once: positions are embedded into
# global keys ``(doc - lo) * 2^32 + adjusted_position + pad`` so all
# per-clause arrays stay sorted doc-major, and doc boundaries are
# enforced by explicit same-doc guards (a window whose left edge falls
# in a different doc than its right edge is rejected, which is exactly
# the per-doc behavior). Differential-equality with the per-doc
# matchers is asserted by hypothesis tests.
# ---------------------------------------------------------------------------

_KEY_BIG = np.int64(1) << np.int64(32)


def _batch_double_minimal(key_lists: list[np.ndarray]
                          ) -> tuple[np.ndarray, np.ndarray]:
    """All double-minimal complete windows over per-clause SORTED global
    key arrays, across every document at once. Returns unique (L, R) key
    pairs with both edges in the same document.

    A window [L, R] is complete when every clause has a key in it and
    minimal when shrinking it from either side breaks completeness:
    ``L = min_j max{a_j <= R}``, ``R = max_j min{a_j >= L}``; cross-doc
    candidates self-reject — a clause with no key <= R inside R's doc
    contributes an earlier-doc key to the min, tripping the same-doc
    guard, and a clause with no key >= L inside the doc contributes a
    later-doc key to the max, breaking ``R == max``.
    """
    n = len(key_lists)
    if n == 0 or any(len(a) == 0 for a in key_lists):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    rs = np.unique(np.concatenate(key_lists))
    ok = np.ones(len(rs), dtype=bool)
    lmat = np.empty((n, len(rs)), dtype=np.int64)
    for j, a in enumerate(key_lists):
        idx = np.searchsorted(a, rs, side="right") - 1
        ok &= idx >= 0
        lmat[j] = a[np.clip(idx, 0, len(a) - 1)]
    l_v = lmat.min(axis=0)
    ok &= (l_v >> 32) == (rs >> 32)          # same-doc guard (left)
    rs_v, l_v = rs[ok], l_v[ok]
    if len(rs_v) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    good = np.ones(len(rs_v), dtype=bool)
    rmat = np.empty((n, len(rs_v)), dtype=np.int64)
    for j, a in enumerate(key_lists):
        idx = np.searchsorted(a, l_v, side="left")
        good &= idx < len(a)
        rmat[j] = a[np.clip(idx, 0, len(a) - 1)]
    valid = good & (rmat.max(axis=0) == rs_v)
    if not valid.any():
        return np.empty(0, np.int64), np.empty(0, np.int64)
    pairs = np.unique(np.stack([l_v[valid], rs_v[valid]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def batch_near_spans(pos_key_lists: list[np.ndarray], slop: int,
                     in_order: bool) -> np.ndarray:
    """Batched :func:`near_spans`: (start_key, end_key, width) triples of
    SpanNear matches across ALL documents, doc-major, reference emission
    order within each doc (the exact batched kernels of
    functions/nearspans.py). Keys embed ``doc << 32 | pos``; ends are
    ``doc << 32 | pos + 1`` (positions < 2^31, so an end never crosses
    its doc's key range)."""
    from .nearspans import batch_near_spans_exact
    return batch_near_spans_exact(pos_key_lists, slop, in_order)


def _split_by_doc(spans: np.ndarray) -> tuple[np.ndarray, list[np.ndarray]]:
    """Split a doc-major global-key span array into per-doc blocks;
    returns (doc ids, list of per-doc LOCAL-position span arrays)."""
    if len(spans) == 0:
        return np.empty(0, np.int64), []
    docs = spans[:, 0] >> 32
    cuts = np.nonzero(docs[1:] != docs[:-1])[0] + 1
    blocks = np.split(spans, cuts)
    uniq = docs[np.concatenate(([0], cuts))]
    local = []
    for d, b in zip(uniq, blocks):
        off = np.int64(d) << np.int64(32)
        local.append(b - np.array([off, off, 0], dtype=np.int64))
    return uniq, local


def eval_span_tree_batch(tree, key_pmap: dict[str, np.ndarray]
                         ) -> np.ndarray:
    """Batched :func:`eval_span_tree`: evaluates the whole segment at once
    on GLOBAL-KEY span arrays (``doc << 32 | pos``). The or/not/first/
    contain/within combinators operate on global keys unchanged — doc
    boundaries self-enforce because any two docs' key ranges are disjoint
    and wider than any position (< 2^31):

    * overlap/containment between spans of different docs is impossible
      (a later doc's start key exceeds an earlier doc's end key), so the
      sorted prefix/suffix-extrema tricks of :func:`not_spans` /
      :func:`containing_spans` / :func:`within_spans` are doc-safe as-is;
    * ``first`` recovers the local end position as ``end_key - (doc<<32)``.

    Nested ``nearspans`` over general streams keeps the per-doc matcher
    (its greedy chain is stateful per doc); every other node is one numpy
    pass. Within-doc emission order matches the per-doc evaluator, so
    sequential per-doc accumulation is bit-identical."""
    kind = tree[0]
    if kind == "term":
        k = key_pmap.get(tree[1])
        if k is None or len(k) == 0:
            return _EMPTY_SPANS
        return np.stack([k, k + 1, np.zeros(len(k), np.int64)], axis=1)
    if kind == "near":
        return batch_near_spans(
            [key_pmap.get(t, np.empty(0, np.int64)) for t in tree[1]],
            tree[2], tree[3])
    if kind == "nearspans":
        children = [eval_span_tree_batch(c, key_pmap) for c in tree[1]]
        # per-doc fallback: intersect the docs present in every child
        doc_sets = []
        split = []
        for ch in children:
            docs, local = _split_by_doc(ch)
            split.append(dict(zip(docs.tolist(), local)))
            doc_sets.append(set(docs.tolist()))
        common = sorted(set.intersection(*doc_sets)) if doc_sets else []
        parts = []
        for d in common:
            sp = near_spans_over([split[i][d] for i in range(len(split))],
                                 tree[2], tree[3])
            if len(sp):
                off = np.int64(d) << np.int64(32)
                parts.append(sp + np.array([off, off, 0], dtype=np.int64))
        return np.concatenate(parts) if parts else _EMPTY_SPANS
    if kind == "or":
        return or_spans([eval_span_tree_batch(c, key_pmap)
                         for c in tree[1]])
    if kind == "not":
        return not_spans(eval_span_tree_batch(tree[1], key_pmap),
                         eval_span_tree_batch(tree[2], key_pmap))
    if kind == "notwin":
        # global doc-major keys: dilation by a few positions never
        # crosses the 2^32 doc spacing (positions ≪ 2^32)
        return not_spans(eval_span_tree_batch(tree[1], key_pmap),
                         eval_span_tree_batch(tree[2], key_pmap),
                         tree[3], tree[4])
    if kind == "first":
        sp = eval_span_tree_batch(tree[1], key_pmap)
        if len(sp) == 0:
            return sp
        local_end = sp[:, 1] - ((sp[:, 0] >> 32) << np.int64(32))
        return sp[local_end <= tree[2]]
    if kind == "posrange":
        sp = eval_span_tree_batch(tree[1], key_pmap)
        if len(sp) == 0:
            return sp
        doc_base = (sp[:, 0] >> 32) << np.int64(32)
        ls = sp[:, 0] - doc_base
        le = sp[:, 1] - doc_base
        return sp[(ls >= tree[2]) & (le <= tree[3])]
    if kind == "contain":
        return containing_spans(eval_span_tree_batch(tree[1], key_pmap),
                                eval_span_tree_batch(tree[2], key_pmap))
    if kind == "within":
        return within_spans(eval_span_tree_batch(tree[1], key_pmap),
                            eval_span_tree_batch(tree[2], key_pmap))
    raise TypeError(f"unknown span tree node {tree!r}")


def batch_spans_freqs(spans: np.ndarray, n_docs: int) -> np.ndarray:
    """Per-doc SpanScorer freq accumulation over a doc-major global-key
    span array (sequential within doc — bit-identical to
    :func:`spans_freq` per doc): float32 target += double weight."""
    out = np.zeros(n_docs, dtype=np.float32)
    if len(spans):
        np.add.at(out, (spans[:, 0] >> 32).astype(np.int64),
                  1.0 / (1.0 + spans[:, 2].astype(np.float64)))
    return out.astype(np.float64)
