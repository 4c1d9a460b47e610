"""Exact ports of the reference's span-near iterators —
``queries/spans/NearSpansOrdered.java`` and ``NearSpansUnordered.java``
— both per-document (over general (start, end) clause span streams in
emission order) and batched (doc-major global-key kernels over TERM
clauses, the ``functions/sloppy.py`` pattern).

These are the ENGINE's SpanNear semantics (wired through
``functions/spans.py`` / ``operators/search.py`` / ``oracle.py``): the
real-Lucene differential q56-q61 proved the previous declarative
containment-minimal windows diverge in match multiplicity/width on
multi-occurrence docs; these ports replay the reference's own span
emissions exactly (fuzz corpus tests/data/lucene_diff/spans_fuzz.tsv.gz,
generated by compiling and running lucene-core itself).

Semantics (fuzz-verified against the compiled reference iterators):

* ORDERED (NearSpansOrdered.java:62-126): for EVERY next start of
  sub[0], stretchToOrder advances each later sub (forward-only,
  stateful across the doc) until its start >= previous end; width =
  sum of internal gaps; emit [start0, lastEnd) when width <=
  allowedSlop; a sub exhausting ends the whole doc. For TERM clauses
  the ratcheting targets are monotone in sub[0]'s start, so the
  stateful walk equals one fresh first->= search per candidate — the
  basis of the batched kernel.
* UNORDERED (NearSpansUnordered.java:70-143): a PriorityQueue over the
  clause currents ordered by (start, end) — ties fall to the HEAP's
  internal order, which we replicate with the reference
  PriorityQueue's upHeap/downHeap — emits a match at every state where
  maxEnd - minStart - totalSpanLength <= slop, with the SpanScorer
  weight width = maxEnd - minStart (maxEnd/totalSpanLength are RUNNING
  window state), then advances the min clause; the walk ends when a
  clause exhausts. For TERM clauses with pairwise-distinct position
  keys the pop sequence is the global sorted merge of all clause
  positions truncated at the first clause-final element, which the
  batched kernel evaluates with one searchsorted per clause over all
  events at once; docs containing duplicate keys (posInc-0 overlaps or
  duplicate clause terms) fall back to the exact per-doc heap walk.

freq accumulation is SpanScorer.java:106: float32 += double
1/(1 + width) per emitted span, in emission order.
"""

from __future__ import annotations

import numpy as np

_EMPTY3 = np.empty((0, 3), dtype=np.int64)
_BIG = np.int64(1) << np.int64(32)


def _as_streams(pos_lists) -> list[np.ndarray] | None:
    """Term position lists → (m, 2) span streams [p, p+1)."""
    out = []
    for p in pos_lists:
        a = np.asarray(p, dtype=np.int64).reshape(-1)
        if len(a) == 0:
            return None
        out.append(np.stack([a, a + 1], axis=1))
    return out


def ordered_near_spans(pos_lists, slop: int) -> list:
    """NearSpansOrdered matches over term-clause position lists.
    Returns [(start, end_exclusive, width)] in emission order."""
    streams = _as_streams(pos_lists)
    if streams is None or not streams:
        return []
    return ordered_near_spans_over(streams, slop)


def ordered_near_spans_over(streams, slop: int) -> list:
    """NearSpansOrdered over general clause SPAN STREAMS — each stream
    is an (m, >=2) array of (start, end[, ...]) rows in the clause's own
    emission order. Exact stateful port (NearSpansOrdered.java:62-126):
    sub state ratchets forward across the whole doc, and a sub
    exhausting ends the doc (oneExhaustedInCurrentDoc)."""
    n = len(streams)
    if n == 0:
        return []
    subs = []
    for s in streams:
        a = np.asarray(s, dtype=np.int64)
        if a.size == 0:
            return []
        subs.append(a.reshape(len(a), -1))
    if n == 1:
        # single-clause SpanNear rewrites to the clause itself
        # (SpanNearQuery.java rewrite); pass the stream through
        return [(int(r[0]), int(r[1]),
                 int(r[2]) if r.shape[0] > 2 else 0) for r in subs[0]]
    idx = [0] * n                 # stateful, forward-only
    out = []
    for i0 in range(len(subs[0])):
        start0 = int(subs[0][i0, 0])
        prev_end = int(subs[0][i0, 1])
        width = 0
        for i in range(1, n):
            a = subs[i]
            j = idx[i]
            # advancePosition: while start < prev_end advance
            while j < len(a) and a[j, 0] < prev_end:
                j += 1
            idx[i] = j
            if j >= len(a):
                return out        # oneExhaustedInCurrentDoc
            width += int(a[j, 0]) - prev_end
            prev_end = int(a[j, 1])
        if width <= slop:
            out.append((start0, prev_end, width))
    return out


class _LuceneHeap:
    """The reference util.PriorityQueue (upHeap/downHeap, 1-based
    array) with NearSpansUnordered.positionsOrdered as lessThan —
    tie behavior (equal (start, end)) is heap-internal and must be
    replicated exactly."""

    def __init__(self, less):
        self.heap = [None]        # 1-based
        self.less = less

    def add(self, e):
        self.heap.append(e)
        self._up(len(self.heap) - 1)

    def top(self):
        return self.heap[1]

    def update_top(self):
        self._down(1)

    def _up(self, i):
        h, less = self.heap, self.less
        node = h[i]
        j = i >> 1
        while j > 0 and less(node, h[j]):
            h[i] = h[j]
            i = j
            j >>= 1
        h[i] = node

    def _down(self, i):
        h, less = self.heap, self.less
        n = len(h) - 1
        node = h[i]
        j = i << 1
        k = j + 1
        if k <= n and less(h[k], h[j]):
            j = k
        while j <= n and less(h[j], node):
            h[i] = h[j]
            i = j
            j = i << 1
            k = j + 1
            if k <= n and less(h[k], h[j]):
                j = k
        h[i] = node
    # matches PriorityQueue.java upHeap/downHeap exactly


def unordered_near_spans(pos_lists, slop: int) -> list:
    """NearSpansUnordered matches over term-clause position lists.
    Returns [(min_start, running_max_end, width)] in emission order —
    width = maxEnd - minStart (the SpanScorer weight input)."""
    streams = _as_streams(pos_lists)
    if streams is None or not streams:
        return []
    return unordered_near_spans_over(streams, slop)


def unordered_near_spans_over(streams, slop: int) -> list:
    """NearSpansUnordered over general clause SPAN STREAMS (each an
    (m, >=2) array of (start, end[, ...]) rows in emission order).
    Exact port of the SpanTotalLengthEndPositionWindow walk
    (NearSpansUnordered.java:41-143): totalSpanLength and
    maxEndPosition are RUNNING window state updated as clauses
    advance; matches emit at every state with
    maxEnd - minStart - totalSpanLength <= slop."""
    n = len(streams)
    if n == 0:
        return []
    subs = []
    for s in streams:
        a = np.asarray(s, dtype=np.int64)
        if a.size == 0:
            return []
        subs.append(a.reshape(len(a), -1))
    if n == 1:
        return [(int(r[0]), int(r[1]),
                 int(r[2]) if r.shape[0] > 2 else 0) for r in subs[0]]
    idx = [0] * n

    # clause state objects: [start, end, clause]
    def less(a, b):
        return (a[1] < b[1]) if a[0] == b[0] else (a[0] < b[0])

    pq = _LuceneHeap(less)
    max_end = -1
    total_len = 0
    for j in range(n):
        s = int(subs[j][0, 0])
        e = int(subs[j][0, 1])
        pq.add([s, e, j])
        if e > max_end:
            max_end = e
        total_len += e - s
    out = []
    while True:
        top = pq.top()
        if (max_end - top[0] - total_len) <= slop:
            out.append((top[0], max_end, max_end - top[0]))
        # advance the min clause
        j = top[2]
        idx[j] += 1
        if idx[j] >= len(subs[j]):
            return out
        old_len = top[1] - top[0]
        top[0] = int(subs[j][idx[j], 0])
        top[1] = int(subs[j][idx[j], 1])
        total_len += (top[1] - top[0]) - old_len
        if top[1] > max_end:
            max_end = top[1]
        pq.update_top()


# ---------------------------------------------------------------------------
# Batched (cross-document vectorized) exact kernels over TERM clauses
#
# Inputs are the engine's doc-major global position keys
# ``doc << 32 | pos`` (one sorted array per clause — the
# functions/sloppy.py embedding). Outputs are doc-major
# (start_key, end_key, width) span arrays whose WITHIN-DOC rows are the
# reference iterators' emissions in emission order, so sequential f32
# freq accumulation over the array is bit-identical to running the
# per-doc ports doc by doc (asserted by hypothesis differential tests).
# ---------------------------------------------------------------------------


def _dup_docs(key_lists: list[np.ndarray]) -> np.ndarray:
    """Sorted doc ids containing any DUPLICATED global key — across
    clauses (duplicate clause terms / posInc-0 same-position overlaps)
    or within one clause's stream. Those docs trip the unordered heap's
    tie order and take the exact per-doc walk."""
    allk = np.sort(np.concatenate(key_lists))
    if len(allk) < 2:
        return np.empty(0, np.int64)
    d = allk[1:][allk[1:] == allk[:-1]]
    return np.unique(d >> np.int64(32))


def _batch_ordered_term_spans(key_lists: list[np.ndarray],
                              slop: int) -> np.ndarray:
    """Batched NearSpansOrdered over term-clause key arrays: one
    candidate chain per first-clause position (NO start tightening, NO
    run-representative filter — the reference emits every sub[0] start
    whose stretched chain fits). The stateful ratchet equals a fresh
    first->(start >= prev_end) search per candidate because the targets
    are monotone in sub[0]'s start, so one searchsorted per later
    clause covers every candidate at once. Exhaustion inside a doc
    (oneExhaustedInCurrentDoc) is equivalent to the same-doc guard:
    later candidates' targets are >=, so they fail the same way.
    Duplicate keys need no fallback here — searchsorted lands on the
    first duplicate exactly like the ratchet."""
    n = len(key_lists)
    first = key_lists[0]
    alive = np.ones(len(first), dtype=bool)
    doc_of = first >> np.int64(32)
    prev = first
    for j in range(1, n):
        a = key_lists[j]
        # advancePosition: first start >= prev_end = prev_pos + 1
        idx = np.searchsorted(a, prev, side="right")
        alive &= idx < len(a)
        nxt = a[np.clip(idx, 0, len(a) - 1)]
        alive &= (nxt >> np.int64(32)) == doc_of
        prev = nxt
    if not alive.any():
        return _EMPTY3
    f, p = first[alive], prev[alive]
    # width = sum of internal gaps = (last_pos - first_pos + 1) - n
    ml = (p - f + 1) - n
    keep = ml <= slop
    if not keep.any():
        return _EMPTY3
    return np.stack([f[keep], p[keep] + 1, ml[keep]], axis=1)


def _batch_unordered_term_spans(key_lists: list[np.ndarray],
                                slop: int) -> np.ndarray:
    """Batched NearSpansUnordered over term-clause key arrays with
    PAIRWISE-DISTINCT keys (callers route duplicate-key docs to the
    per-doc heap walk): the pop sequence is the global sorted merge of
    all clause keys truncated at each doc's first clause-final element
    (cutoff = min over clauses of the clause's max key in the doc;
    exactly ONE state at the cutoff key is processed — the walk returns
    when that clause fails to advance). At the state popping key e of
    clause j, every other clause's current is its first key > e (all
    earlier keys were popped), so
    ``width = max(e, max_{c != j} next_c(e)) + 1 - e`` and the match
    condition is ``width - n <= slop`` (totalSpanLength = n for term
    spans). One searchsorted per clause over all events."""
    n = len(key_lists)
    # per-doc per-clause max + presence -> cutoff over common docs
    common = None
    maxes = []
    for a in key_lists:
        docs = a >> np.int64(32)
        last = np.nonzero(docs[1:] != docs[:-1])[0]
        idx = np.concatenate([last, [len(a) - 1]])
        ud, mx = docs[idx], a[idx]
        maxes.append((ud, mx))
        common = ud if common is None else \
            common[np.isin(common, ud, assume_unique=True)]
    if common is None or len(common) == 0:
        return _EMPTY3
    cut = None
    for ud, mx in maxes:
        m = mx[np.searchsorted(ud, common)]
        cut = m if cut is None else np.minimum(cut, m)
    # merged events (key, clause)
    keys = np.concatenate(key_lists)
    cls = np.concatenate([np.full(len(a), j, dtype=np.int64)
                          for j, a in enumerate(key_lists)])
    order = np.argsort(keys, kind="stable")
    ek, ec = keys[order], cls[order]
    edoc = ek >> np.int64(32)
    di = np.searchsorted(common, edoc)
    in_common = (di < len(common))
    di = np.clip(di, 0, len(common) - 1)
    in_common &= common[di] == edoc
    keep = in_common & (ek <= cut[di])
    if not keep.any():
        return _EMPTY3
    ek, ec = ek[keep], ec[keep]
    # next key of each clause strictly after each event
    other_max = np.zeros(len(ek), dtype=np.int64)
    for j, a in enumerate(key_lists):
        idx = np.searchsorted(a, ek, side="right")
        v = a[np.clip(idx, 0, len(a) - 1)]
        v = np.where((idx < len(a)) & (ec != j), v, np.int64(0))
        np.maximum(other_max, v, out=other_max)
    wkey = np.maximum(ek, other_max)
    width = wkey + 1 - ek
    hit = (width - n) <= slop
    if not hit.any():
        return _EMPTY3
    return np.stack([ek[hit], wkey[hit] + 1, width[hit]], axis=1)


def _batch_unordered_multiset_spans(streams: list[np.ndarray],
                                    mults: list[int],
                                    slop: int) -> np.ndarray:
    """Batched NearSpansUnordered with DUPLICATE CLAUSE TERMS over
    distinct-key streams: clauses naming one term are independent
    iterators over the same stream, and their cells CLUSTER — all k
    copies sit at one position between pops, so tied pops are
    multiset-deterministic (no heap-order dependence; fuzz-pinned vs
    the per-doc heap walk). Per position p of term t (k = mults[t]):

    * copy 1 pops with every other term's cells at their first
      position > p and t's other cells still AT p:
      width1 = max(p, max_{u != t} next_u(p)) + 1 - p;
    * copies 2..k pop after the first advanced to q = next_t(p):
      width2 = max(p, q, max_{u != t} next_u(p)) + 1 - p;
    * the walk ends at the first clause-final pop: events keep
      p <= cutoff = min over terms of the doc's term max, and exactly
      ONE copy pops at p == cutoff.

    totalSpanLength = n = Σ mults; match when width - n <= slop."""
    n = int(sum(mults))
    m = len(streams)
    INF = np.iinfo(np.int64).max
    common = None
    maxes = []
    for a in streams:
        docs = a >> np.int64(32)
        last = np.nonzero(docs[1:] != docs[:-1])[0]
        idx = np.concatenate([last, [len(a) - 1]])
        ud, mx = docs[idx], a[idx]
        maxes.append((ud, mx))
        common = ud if common is None else \
            common[np.isin(common, ud, assume_unique=True)]
    if common is None or len(common) == 0:
        return _EMPTY3
    cut = None
    for ud, mx in maxes:
        v = mx[np.searchsorted(ud, common)]
        cut = v if cut is None else np.minimum(cut, v)
    keys = np.concatenate(streams)
    cls = np.concatenate([np.full(len(a), j, dtype=np.int64)
                          for j, a in enumerate(streams)])
    order = np.argsort(keys, kind="stable")
    ek, ec = keys[order], cls[order]
    edoc = ek >> np.int64(32)
    di = np.searchsorted(common, edoc)
    in_common = di < len(common)
    di = np.clip(di, 0, len(common) - 1)
    in_common &= common[di] == edoc
    keep = in_common & (ek <= cut[di])
    if not keep.any():
        return _EMPTY3
    ek, ec, di = ek[keep], ec[keep], di[keep]
    at_cut = ek == cut[di]
    other_max = np.zeros(len(ek), dtype=np.int64)
    own_next = np.zeros(len(ek), dtype=np.int64)
    for j, a in enumerate(streams):
        idx = np.searchsorted(a, ek, side="right")
        v = a[np.clip(idx, 0, len(a) - 1)]
        valid = idx < len(a)
        np.maximum(other_max,
                   np.where(valid & (ec != j), v, np.int64(0)),
                   out=other_max)
        own_next = np.where((ec == j) & valid, v, own_next)
    w1end = np.maximum(ek, other_max) + 1
    w2end = np.maximum(w1end - 1, own_next) + 1
    w1 = w1end - ek
    w2 = w2end - ek
    mult_of = np.asarray(mults, dtype=np.int64)[ec]
    c2 = np.where(at_cut, 0, mult_of - 1)
    c2 = np.where((w2 - n) <= slop, c2, 0)
    c1 = ((w1 - n) <= slop).astype(np.int64)
    E = len(ek)
    rows = np.empty((2 * E, 3), dtype=np.int64)
    rows[0::2] = np.stack([ek, w1end, w1], axis=1)
    rows[1::2] = np.stack([ek, w2end, w2], axis=1)
    counts = np.empty(2 * E, dtype=np.int64)
    counts[0::2] = c1
    counts[1::2] = c2
    if not counts.any():
        return _EMPTY3
    return np.repeat(rows, counts, axis=0)


def _per_doc_unordered_spans(key_lists: list[np.ndarray],
                             docs: np.ndarray, slop: int) -> np.ndarray:
    """Exact per-doc heap walk (tie-order-faithful) for the given docs;
    returns a doc-major global-key span array."""
    parts = []
    for d in docs:
        lo_k = np.int64(d) << np.int64(32)
        hi_k = np.int64(d + 1) << np.int64(32)
        pls = []
        dead = False
        for a in key_lists:
            i0 = np.searchsorted(a, lo_k, side="left")
            i1 = np.searchsorted(a, hi_k, side="left")
            if i0 == i1:
                dead = True
                break
            pls.append(a[i0:i1] - lo_k)
        if dead:
            continue
        sp = unordered_near_spans(pls, slop)
        if sp:
            arr = np.asarray(sp, dtype=np.int64).reshape(-1, 3)
            arr[:, 0] += lo_k
            arr[:, 1] += lo_k
            parts.append(arr)
    return np.concatenate(parts) if parts else _EMPTY3


def _batch_unordered_2clause_spans(key_lists: list[np.ndarray],
                                   docs: np.ndarray,
                                   slop: int) -> np.ndarray:
    """Exact NearSpansUnordered walk for TWO term clauses over the
    given docs, wave-vectorized (one clause advance per wave across
    all docs) — replaces the per-doc Python heap walk for the
    duplicate-key (posInc-0 / repeated-term) fallback in the dominant
    2-clause case. Term spans are all [p, p+1): totalSpanLength == 2
    is constant and the 2-element reference heap reduces to a
    deterministic comparison — lessThan is key order, and on a FULL
    tie (equal keys) the reference keeps the incumbent top: at init
    clause 0 wins ties (PriorityQueue.add upHeap: the second element
    rises only on strict lessThan), and after an advance the advanced
    clause keeps top on ties (updateTop downHeap swaps only on strict
    lessThan). Emissions per doc are in the exact walk's order."""
    a0, a1 = key_lists
    docs = np.asarray(docs, dtype=np.int64)
    if len(docs) == 0:
        return _EMPTY3
    base = docs << np.int64(32)
    nxt_base = (docs + 1) << np.int64(32)
    lo0 = np.searchsorted(a0, base)
    hi0 = np.searchsorted(a0, nxt_base)
    lo1 = np.searchsorted(a1, base)
    hi1 = np.searchsorted(a1, nxt_base)
    act = (hi0 > lo0) & (hi1 > lo1)
    if not act.any():
        return _EMPTY3
    sel = np.nonzero(act)[0]
    docs, base = docs[sel], base[sel]
    lo0, hi0, lo1, hi1 = lo0[sel], hi0[sel], lo1[sel], hi1[sel]
    D = len(docs)
    i0 = np.zeros(D, dtype=np.int64)
    i1 = np.zeros(D, dtype=np.int64)
    c0 = a0[lo0]
    c1 = a1[lo1]
    me = np.maximum(c0, c1) + 1          # running max end (key + 1)
    top = (c1 < c0).astype(np.int64)     # tie -> clause 0 stays top
    act = np.ones(D, dtype=bool)
    e_doc: list[np.ndarray] = []
    e_start: list[np.ndarray] = []
    e_end: list[np.ndarray] = []
    e_wave: list[np.ndarray] = []
    wave = 0
    ar = np.arange(D)
    while act.any():
        ct = np.where(top == 0, c0, c1)
        hit = act & (me - ct - 2 <= slop)
        if hit.any():
            e_doc.append(ar[hit])
            e_start.append(ct[hit])
            e_end.append(me[hit])
            e_wave.append(np.full(int(hit.sum()), wave, dtype=np.int64))
        wave += 1
        # advance the top clause
        m0 = act & (top == 0)
        m1 = act & (top == 1)
        if m0.any():
            i0[m0] += 1
            ex = m0 & (lo0 + i0 >= hi0)
            act &= ~ex
            mm = m0 & act
            if mm.any():
                c0[mm] = a0[np.minimum(lo0 + i0, len(a0) - 1)[mm]]
        if m1.any():
            i1[m1] += 1
            ex = m1 & (lo1 + i1 >= hi1)
            act &= ~ex
            mm = m1 & act
            if mm.any():
                c1[mm] = a1[np.minimum(lo1 + i1, len(a1) - 1)[mm]]
        np.maximum(me, np.where(top == 0, c0, c1) + 1, out=me,
                   where=act)
        # re-top: the other clause takes top only on STRICT lessThan
        other = 1 - top
        c_t = np.where(top == 0, c0, c1)
        c_o = np.where(top == 0, c1, c0)
        swap = act & (c_o < c_t)
        top = np.where(swap, other, top)
    if not e_doc:
        return _EMPTY3
    ed = np.concatenate(e_doc)
    es = np.concatenate(e_start)
    ee = np.concatenate(e_end)
    ew = np.concatenate(e_wave)
    order = np.lexsort((ew, ed))
    return np.stack([es[order], ee[order], ee[order] - es[order]],
                    axis=1)


def batch_near_spans_exact(key_lists: list[np.ndarray], slop: int,
                           in_order: bool) -> np.ndarray:
    """Reference-exact SpanNear matches across ALL documents at once:
    doc-major (start_key, end_key, width) in per-doc emission order.
    Ordered is fully vectorized; unordered vectorizes distinct-key docs
    and runs the exact heap walk only on docs with duplicated keys
    (duplicate clause terms / posInc-0 ties)."""
    n = len(key_lists)
    if n == 0 or any(len(a) == 0 for a in key_lists):
        return _EMPTY3
    if n == 1:
        k = key_lists[0]
        return np.stack([k, k + 1, np.zeros(len(k), np.int64)], axis=1)
    if in_order:
        return _batch_ordered_term_spans(key_lists, slop)
    # group clauses naming the same term (identical key arrays): those
    # take the multiset kernel; remaining duplicate keys (posInc-0
    # collisions within/across DISTINCT streams) take the per-doc walk
    streams: list[np.ndarray] = []
    mults: list[int] = []
    for a in key_lists:
        for j, s in enumerate(streams):
            if len(s) == len(a) and (len(a) == 0 or
                                     (s[0] == a[0] and s[-1] == a[-1])) \
                    and np.array_equal(s, a):
                mults[j] += 1
                break
        else:
            streams.append(a)
            mults.append(1)
    dup = _dup_docs(streams)
    has_rep = any(k > 1 for k in mults)
    if len(dup) == 0:
        if has_rep:
            return _batch_unordered_multiset_spans(streams, mults, slop)
        return _batch_unordered_term_spans(key_lists, slop)
    # mask duplicate-key docs out of the batched inputs
    clean = []
    for a in streams:
        di = np.searchsorted(dup, a >> np.int64(32))
        isdup = (di < len(dup)) & \
            (dup[np.clip(di, 0, len(dup) - 1)] == (a >> np.int64(32)))
        clean.append(a[~isdup])
    if all(len(a) for a in clean):
        fast = (_batch_unordered_multiset_spans(clean, mults, slop)
                if has_rep else _batch_unordered_term_spans(clean, slop))
    else:
        fast = _EMPTY3
    if len(key_lists) == 2:
        slow = _batch_unordered_2clause_spans(key_lists, dup, slop)
    else:
        slow = _per_doc_unordered_spans(key_lists, dup, slop)
    if len(fast) == 0:
        return slow
    if len(slow) == 0:
        return fast
    both = np.concatenate([fast, slow])
    # dup docs and clean docs are disjoint; a stable sort on doc id
    # preserves each side's within-doc emission order
    order = np.argsort(both[:, 0] >> np.int64(32), kind="stable")
    return both[order]
