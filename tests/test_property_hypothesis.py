"""Property-based tests (hypothesis) for the pure kernels — the
reference's randomized-testing backbone (LuceneTestCase/RandomizedRunner,
SURVEY §5) mapped onto our codec/norm/analyzer invariants."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark.functions import codec
from lucene_spark.functions.analysis import analyze_text
from lucene_spark.functions.smallfloat import byte4_to_int, int_to_byte4
from lucene_spark.functions.spans import span_near_freq


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1),
                min_size=0, max_size=400))
def test_vbyte_roundtrip(vals):
    arr = np.asarray(vals, dtype=np.int64)
    out = codec.vbyte_decode(codec.vbyte_encode(arr))
    assert np.array_equal(out, arr)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1),
                min_size=128, max_size=128))
def test_for_pack_roundtrip(vals):
    arr = np.asarray(vals, dtype=np.uint32)
    buf = codec.for_pack(arr)
    out, off = codec.for_unpack(buf, 0)
    assert off == len(buf)
    assert np.array_equal(out.astype(np.uint32), arr)


@settings(max_examples=80, deadline=None)
@given(st.data())
def test_pfor_batch_matches_single(data):
    """for_pack_many must be byte-identical to per-block for_pack for
    arbitrary value distributions (uniform, zipf-ish outliers, zeros)."""
    rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
    B = data.draw(st.integers(1, 6))
    kind = data.draw(st.sampled_from(["uniform", "outliers", "zeros",
                                      "mixed"]))
    blocks = np.zeros((B, 128), dtype=np.uint32)
    for b in range(B):
        if kind == "uniform":
            blocks[b] = rng.randint(0, 2**rng.randint(1, 31), 128)
        elif kind == "outliers":
            blocks[b] = rng.randint(0, 16, 128)
            k = rng.randint(0, 12)
            blocks[b, rng.choice(128, k, replace=False)] = \
                rng.randint(2**16, 2**30, k)
        elif kind == "mixed":
            blocks[b] = rng.randint(0, 2**rng.randint(1, 20), 128)
    stream, boff = codec.for_pack_many(blocks)
    for b in range(B):
        single = codec.for_pack(blocks[b])
        assert stream[boff[b]:boff[b + 1]] == single, (kind, b)
        got, off = codec.for_unpack(single, 0)
        assert off == len(single)
        assert np.array_equal(got, blocks[b])


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_postings_roundtrip(data):
    n_docs = data.draw(st.integers(min_value=1, max_value=600))
    df = data.draw(st.integers(min_value=1, max_value=n_docs))
    rng = np.random.RandomState(data.draw(st.integers(0, 2**31 - 1)))
    ids = np.sort(rng.choice(n_docs, df, replace=False)).astype(np.int64)
    tfs = rng.randint(1, 9, df).astype(np.int64)
    pos = np.concatenate([np.sort(rng.choice(1000, int(t), replace=False))
                          for t in tfs]).astype(np.int64)
    norms = rng.randint(0, 256, n_docs).astype(np.uint8)
    enc = codec.encode_postings(ids, tfs, pos, norms)
    dec = codec.decode_postings(enc, with_positions=True)
    assert np.array_equal(dec["doc_ids"], ids)
    assert np.array_equal(dec["tfs"], tfs)
    assert np.array_equal(dec["positions"], pos)
    # impacts: every (tf, norm) posting is dominated by its block frontier
    blocks = codec.decode_impacts(enc["impact_bytes"],
                                  (df + codec.BLOCK_SIZE - 1)
                                  // codec.BLOCK_SIZE)
    for b, pairs in enumerate(blocks):
        s, e = b * codec.BLOCK_SIZE, min((b + 1) * codec.BLOCK_SIZE, df)
        for i in range(s, e):
            tf_i, nm_i = int(tfs[i]), int(norms[ids[i]])
            assert any(p[0] >= tf_i and p[1] <= nm_i for p in pairs)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_smallfloat_monotone_and_bounding(n):
    b = int(int_to_byte4(np.array([n]))[0])
    dec = int(byte4_to_int(np.array([b]))[0])
    assert dec <= n                       # quantized length never exceeds
    if n < 24:
        assert dec == n                   # exact below the offset
    b2 = int(int_to_byte4(np.array([n + 1]))[0])
    assert b2 >= b                        # monotone encoding


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               max_size=300))
def test_analyzer_invariants(text):
    terms, positions, length = analyze_text(text)
    assert len(terms) == len(positions) == length
    assert all(t == t.lower() for t in terms)
    assert positions == sorted(positions)
    assert all(p >= 0 for p in positions)
    # re-analysis of the joined terms is a fixpoint for token content
    terms2, _, _ = analyze_text(" ".join(terms))
    assert terms2 == terms


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_lucene_sloppy_lockstep_matches_port(data):
    """The batched lockstep walk ≡ the per-doc SloppyPhraseMatcher port
    (functions/sloppy.py), multi-doc, arbitrary offsets/ties."""
    from lucene_spark.functions.sloppy import (batch_lucene_sloppy_freqs,
                                               lucene_sloppy_freq)
    n = data.draw(st.integers(2, 4))
    offs = data.draw(st.sampled_from([list(range(n)), None]))
    if offs is None:
        offs = sorted(data.draw(st.lists(st.integers(0, 7), min_size=n,
                                         max_size=n, unique=True)))
    n_docs = data.draw(st.integers(1, 4))
    docs = [[sorted(data.draw(st.lists(st.integers(0, 15), min_size=0,
                                       max_size=6, unique=True)))
             for _ in range(n)] for _ in range(n_docs)]
    slop = data.draw(st.integers(0, 9))
    BIG = 1 << 32
    pad = max(offs) + 1
    keys = []
    for j in range(n):
        ks = [d * BIG + (np.asarray(docs[d][j], dtype=np.int64)
                         - offs[j] + pad)
              for d in range(n_docs) if len(docs[d][j])]
        keys.append(np.sort(np.concatenate(ks)) if ks
                    else np.empty(0, np.int64))
    got = batch_lucene_sloppy_freqs(keys, offs, slop, n_docs)
    for d in range(n_docs):
        exp = (lucene_sloppy_freq(docs[d], slop, offs)
               if all(len(p) for p in docs[d]) else 0.0)
        assert got[d] == exp, (docs[d], slop, offs)


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_span_near_invariants(data):
    n = data.draw(st.integers(2, 4))
    lists = []
    for _ in range(n):
        ps = data.draw(st.lists(st.integers(0, 60), min_size=0,
                                max_size=8, unique=True))
        lists.append(np.asarray(sorted(ps), dtype=np.int64))
    slop = data.draw(st.integers(0, 10))
    fo = span_near_freq(lists, slop, True)
    fu = span_near_freq(lists, slop, False)
    assert fo >= 0 and fu >= 0
    # wider slop never loses matches
    assert span_near_freq(lists, slop + 5, True) >= fo
    assert span_near_freq(lists, slop + 5, False) >= fu
    if any(len(p) == 0 for p in lists):
        assert fo == fu == 0.0
