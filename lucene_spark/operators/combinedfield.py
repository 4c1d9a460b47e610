"""CombinedFieldQuery — BM25F-style multi-field term scoring.

Reference: ``lucene/sandbox/src/java/org/apache/lucene/sandbox/search/
CombinedFieldQuery.java`` + ``MultiNormsLeafSimScorer.java`` (the
"simple BM25F" of Robertson/Zaragoza/Taylor, CIKM 2004): the fields
are scored as if their contents were one pseudo-field —

  * pseudo term stats (``CombinedFieldQuery.java:328-345``):
    ``docFreq = max_f df_f(term)``,
    ``totalTermFreq = Σ_f w_f · ttf_f(term)`` (long-truncating
    compound assignment, one truncation per field like Java's
    ``long += (double) w * ttf``);
  * pseudo collection stats (``:353-370``):
    ``docCount = max_f docCount_f``,
    ``sumTotalTermFreq = Σ_f w_f · sumTTF_f`` (same truncation);
  * per-doc freq (``WeightedDisiWrapper.freq`` / ``CombinedFieldScorer
    .freq``, ``:452-489``): ``Σ_f w_f · tf_f`` accumulated in float32;
  * per-doc norm (``MultiNormsLeafSimScorer.MultiFieldNormValues
    .advanceExact``): ``Σ_f w_f · LENGTH_TABLE[normByte_f]`` in
    float32, then re-encoded ``SmallFloat.intToByte4(Math.round(v))``
    — the combined length goes through the byte4 quantization cycle
    again before the BM25 norm cache.

Spark shape: each field lives in its OWN single-field index built over
the same ``doc_id`` space with the same ``num_segments`` — the build
partitioner is ``doc_id % num_segments``, so segment i of every field
holds the same documents in the same local order and the combination
is segment-local: one shuffle-free ``fan_out`` task reads segment i of
every field through its Python worker's open segment readers
(``operators/segreader.py``). The pseudo-stats are O(fields) driver
reads of the term dictionaries and field stats, and the ≤ k·S
candidates merge on the driver, so a call runs one Spark job.

Seam vs the reference (documented): our ``field_stats.doc_count``
counts every doc in the index, while Lucene's per-field docCount
counts docs that HAVE the field — identical whenever every document
carries every combined field (enforced by the caller; a missing field
contributes ``w·0`` to freq and norm either way, only the collection
docCount could diverge).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import bm25
from ..functions.smallfloat import LENGTH_TABLE, int_to_byte4
from ..functions.codec import TermSegPostings
from .search import (_live_mask, _topk_merge, empty_frame, fan_out,
                     merged_top_k)


def _pseudo_stats(fields, term: str):
    """(docFreq, ttf, docCount, sumTTF) of the pseudo-field/term —
    CombinedFieldQuery.java:328-345 + mergeCollectionStatistics."""
    doc_freq = 0
    ttf = 0
    doc_count = 0
    sum_ttf = 0
    for searcher, weight in fields:
        dfs, ttfs = searcher._global_stats([term])
        df_f = dfs.get(term, 0)
        ttf_f = ttfs.get(term, 0)
        if df_f > 0:
            doc_freq = max(doc_freq, df_f)
            # Java: long += (double) weight * ttf — truncation per field
            ttf = int(ttf + float(weight) * ttf_f)
        doc_count = max(doc_count, searcher.doc_count)
        sum_ttf = int(sum_ttf + float(weight) * searcher.sum_ttf)
    return doc_freq, max(1, ttf), doc_count, sum_ttf


def combined_field_topk(spark, fields, term: str, k: int = 10,
                        boost: float = 1.0,
                        k1: float = bm25.K1_DEFAULT,
                        b: float = bm25.B_DEFAULT):
    """Global top-k of the combined-field BM25 score of ``term``.

    ``fields`` — list of ``(Searcher, weight)``; every searcher must
    read an index built over the same doc_id space with the same
    ``num_segments`` (checked per segment via global-id equality).
    Returns (doc_id, score float32, rank) like ``Searcher.search``.
    """
    from .segreader import open_segment

    if not fields:
        raise ValueError("fields must be non-empty")
    doc_freq, _ttf, doc_count, sum_ttf = _pseudo_stats(fields, term)
    if doc_freq == 0:
        return empty_frame(spark, "doc_id long, score float, rank int")

    idf = bm25.idf(doc_freq, doc_count)
    weight = np.float32(np.float32(boost) * idf)
    avgdl = bm25.avg_field_length(sum_ttf, doc_count)
    cache = bm25.norm_inverse_cache(avgdl, k1, b)
    weights = [np.float32(w) for _, w in fields]

    def seg_combined(item):
        """One segment of every field: ``item`` is ``(seg_id, [segment
        directory or None per field], [tombstones or None per field])``."""
        seg_id, seg_dirs, tombstones = item
        readers = [open_segment(d, [term]) if d else None for d in seg_dirs]
        postings = [r.rows([term]) if r else {} for r in readers]
        if not any(postings):
            return None
        gids = None
        n = 0
        comb_len = None
        for i, (r, w) in enumerate(zip(readers, weights)):
            if r is None:
                continue
            nb, g = r.norms()
            if gids is None:
                gids = g
                n = len(nb)
                comb_len = np.zeros(n, dtype=np.float32)
            elif len(g) != n or not np.array_equal(gids, g):
                raise ValueError(
                    "combined fields need identical doc layout per "
                    f"segment (seg {seg_id}: field {i} differs)")
            # float32 accumulation in field order, exactly
            # MultiFieldNormValues.advanceExact
            comb_len += w * LENGTH_TABLE[nb]
        if n == 0:
            return None
        # Math.round(float) = floor(x + 0.5f) — then re-quantize byte4
        comb_byte = int_to_byte4(
            np.floor(comb_len + np.float32(0.5)).astype(np.int64))
        freq = np.zeros(n, dtype=np.float32)
        for rows, w in zip(postings, weights):
            for r in rows.values():
                ids, tfs = TermSegPostings(r).decode_all()
                freq[ids] += w * tfs.astype(np.float32)
        live = np.ones(n, dtype=bool)
        for d in tombstones:
            lm = _live_mask({seg_id: d}, seg_id, n)
            if lm is not None:
                live &= lm
        lids = np.nonzero((freq > 0) & live)[0]
        scores = bm25.score_block(freq[lids],
                                  comb_byte[lids].astype(np.int64),
                                  weight, cache)
        g, s = _topk_merge(gids[lids], scores, k)
        return pd.DataFrame({"doc_id": g, "score": s.astype(np.float32)})

    seg_ids = sorted({s for searcher, _ in fields for s in searcher.seg_dirs})
    items = [(s, [searcher.seg_dirs.get(s) for searcher, _ in fields],
              [searcher.deletes.get(s) for searcher, _ in fields])
             for s in seg_ids]
    return merged_top_k(spark, fan_out(spark, items, seg_combined,
                                       "doc_id long, score float"), k)
