"""Round-trip + invariant tests for the FOR/VByte postings codec
(modeled on the reference's BasePostingsFormatTestCase strategy)."""

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from lucene_spark.functions import codec


def _slow_vbyte_encode(vals):
    out = bytearray()
    for v in vals:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


@given(st.lists(st.integers(min_value=0, max_value=2**60), max_size=300))
@settings(max_examples=200)
def test_vbyte_roundtrip(vals):
    buf = codec.vbyte_encode(np.array(vals, dtype=np.uint64))
    assert buf == _slow_vbyte_encode(vals)
    got = codec.vbyte_decode(buf)
    assert list(got) == vals


@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1),
                min_size=128, max_size=128))
@settings(max_examples=100)
def test_for_pack_roundtrip(vals):
    # 31-bit domain: PFOR headers carry the width in 5 bits (local doc
    # deltas and tfs are < 2^31 by construction — int32 local ids)
    arr = np.array(vals, dtype=np.uint32)
    buf = codec.for_pack(arr)
    got, off = codec.for_unpack(buf, 0)
    assert off == len(buf)
    assert np.array_equal(got, arr)


def test_for_pack_width0():
    assert codec.for_pack(np.zeros(128, np.uint32)) == b"\x00"


def test_pfor_patches_outliers():
    """A block of small values + few huge outliers packs near the small
    width (PForUtil role), exceptions round-trip, and the 32-bit domain
    is rejected."""
    import pytest
    vals = np.full(128, 3, np.uint32)
    vals[[5, 77, 127]] = [2**20, 2**19, 2**18]
    buf = codec.for_pack(vals)
    header = buf[0]
    w, k = header & 31, header >> 5
    # patched: width = maxbl-8 = 13 (hi byte cap), not the 21-bit max
    assert k == 3 and w == 13
    assert len(buf) == 1 + (128 * w) // 8 + 2 * k
    got, off = codec.for_unpack(buf, 0)
    assert off == len(buf) and np.array_equal(got, vals)
    # batched encoder is byte-identical per block
    blocks = np.stack([vals, np.arange(128, dtype=np.uint32),
                       np.zeros(128, np.uint32)])
    stream, boff = codec.for_pack_many(blocks)
    for i in range(3):
        assert stream[boff[i]:boff[i + 1]] == codec.for_pack(blocks[i]), i
    with pytest.raises(ValueError):
        codec.for_pack(np.full(128, 2**31, np.uint32))


@st.composite
def postings(draw):
    n = draw(st.integers(min_value=1, max_value=600))
    gaps = draw(st.lists(st.integers(min_value=1, max_value=50),
                         min_size=n, max_size=n))
    doc_ids = np.cumsum(gaps) - 1
    tfs = np.array(draw(st.lists(st.integers(min_value=1, max_value=30),
                                 min_size=n, max_size=n)), dtype=np.int64)
    return doc_ids.astype(np.int64), tfs


@given(postings())
@example((np.arange(0, 1500, 5, dtype=np.int64), np.full(300, 2, np.int64)))
@settings(max_examples=50, deadline=None)
def test_postings_roundtrip(p):
    doc_ids, tfs = p
    max_doc = int(doc_ids[-1]) + 1
    rng = np.random.RandomState(7)
    norms = rng.randint(0, 256, size=max_doc).astype(np.uint8)
    # positions: tf_i increasing positions per doc
    pos = np.concatenate([np.sort(rng.choice(np.arange(500), size=t, replace=False))
                          for t in tfs])
    enc = codec.encode_postings(doc_ids, tfs, pos, norms)
    assert enc["df"] == len(doc_ids)
    assert enc["ttf"] == int(tfs.sum())
    dec = codec.decode_postings(enc, with_positions=True)
    assert np.array_equal(dec["doc_ids"], doc_ids)
    assert np.array_equal(dec["tfs"], tfs)
    assert np.array_equal(dec["positions"], pos)
    # the postings reader agrees: its sequential walk, its positions, and
    # its by-block reads over windows that cut through blocks (on a fresh
    # reader, and on one that has walked the whole row)
    bounds = list(range(0, max_doc, 97)) + [max_doc]
    for walked in (False, True):
        tp = codec.TermSegPostings(enc)
        if walked:
            ids, got_tfs = tp.decode_all()
            assert ids.dtype == got_tfs.dtype == np.int64
            assert np.array_equal(ids, doc_ids)
            assert np.array_equal(got_tfs, tfs)
            assert np.array_equal(tp.positions(), pos)
        parts = [tp.in_range(lo, hi) for lo, hi in zip(bounds, bounds[1:])]
        assert np.array_equal(np.concatenate([i for i, _ in parts]), doc_ids)
        assert np.array_equal(np.concatenate([t for _, t in parts]), tfs)
    # block_last covers every block and ends at the last doc
    bl = codec.decode_block_ranges(enc["block_last"])
    assert len(bl) == (len(doc_ids) + codec.BLOCK_SIZE - 1) // codec.BLOCK_SIZE
    assert bl[-1] == doc_ids[-1]
    # impacts: valid frontier per block, dominating all block postings
    imps = codec.decode_impacts(enc["impact_bytes"], len(bl))
    for bi, pairs in enumerate(imps):
        lo = bi * codec.BLOCK_SIZE
        hi = min(lo + codec.BLOCK_SIZE, len(doc_ids))
        btfs = tfs[lo:hi]
        bnorms = norms[doc_ids[lo:hi]]
        # every posting is dominated by some frontier pair
        for f, nm in zip(btfs, bnorms):
            assert any(pf >= f and pn <= nm for pf, pn in pairs)
        # frontier is minimal (pairwise non-dominating)
        for i in range(len(pairs)):
            for j in range(len(pairs)):
                if i != j:
                    assert not (pairs[i][0] >= pairs[j][0]
                                and pairs[i][1] <= pairs[j][1])


def test_impacts_frontier_simple():
    pairs = codec.impacts_frontier(np.array([1, 5, 5, 2]),
                                   np.array([10, 7, 9, 7]))
    assert pairs == [(5, 7)] or (5, 7) in pairs
    # (5,7) dominates (5,9), (2,7) and (1,10)? (1,10): needs tf'>=1, norm'<=10 -> yes
    assert pairs == [(5, 7)]


def test_batched_encoder_matches_per_term_reference():
    """encode_postings_batch must be byte-identical to encode_postings on
    every term (mixed tail-only and multi-block dfs, hypothesis-style
    randomized)."""
    rng = np.random.RandomState(11)
    norms = rng.randint(0, 256, 4000).astype(np.uint8)
    doc_parts, tf_parts, pos_parts, offs = [], [], [], [0]
    for _ in range(120):
        df = int(rng.choice([1, 2, 3, 7, 60, 127, 128, 129, 400],
                            p=[.25, .2, .15, .15, .1, .05, .04, .03, .03]))
        ids = np.sort(rng.choice(4000, df, replace=False)).astype(np.int64)
        tfs = rng.randint(1, 6, df).astype(np.int64)
        pos = np.concatenate([np.sort(rng.choice(500, int(t), replace=False))
                              for t in tfs]).astype(np.int64)
        doc_parts.append(ids)
        tf_parts.append(tfs)
        pos_parts.append(pos)
        offs.append(offs[-1] + df)
    docs = np.concatenate(doc_parts)
    tfs_all = np.concatenate(tf_parts)
    pos_all = np.concatenate(pos_parts)
    enc = codec.encode_postings_batch(docs, tfs_all, pos_all, norms,
                                      np.array(offs))
    tok = 0
    for t in range(120):
        a, b = offs[t], offs[t + 1]
        ntok = int(tf_parts[t].sum())
        ref = codec.encode_postings(doc_parts[t], tf_parts[t],
                                    pos_all[tok:tok + ntok], norms)
        tok += ntok
        assert int(enc["df"][t]) == ref["df"]
        assert int(enc["ttf"][t]) == ref["ttf"]
        for k in ("doc_bytes", "tf_bytes", "pos_bytes", "block_last",
                  "impact_bytes"):
            assert bytes(enc[k][t]) == ref[k], (t, k)


def test_vbyte_encode_batched_roundtrip():
    rng = np.random.RandomState(5)
    glens = rng.randint(0, 40, 50)
    vals = rng.randint(0, 1 << 40, int(glens.sum())).astype(np.uint64)
    stream, goff = codec.vbyte_encode_batched(vals, glens)
    pos = 0
    for g, n in enumerate(glens):
        chunk = stream[goff[g]:goff[g + 1]]
        got = codec.vbyte_decode(chunk, int(n))
        assert np.array_equal(got.astype(np.uint64), vals[pos:pos + n])
        assert chunk == codec.vbyte_encode(vals[pos:pos + n])
        pos += n


def test_codec_version_gate(spark, tmp_path):
    """A snapshot stamped with an older codec_version must be REJECTED by
    readers (a v1 width-32 FOR block would silently misdecode as v2 PFOR
    width 0 + 1 exception), and current builds must stamp the version."""
    import json
    import os

    import pytest

    from lucene_spark.functions.codec import CODEC_VERSION
    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.sources.corpus import generate_corpus

    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_corpus(40, seed=3)),
                d, num_segments=2)
    man_dir = os.path.join(d, "manifests")
    snaps = sorted(f for f in os.listdir(man_dir)
                   if f.startswith("snapshot-"))
    with open(os.path.join(man_dir, snaps[-1])) as f:
        doc = json.load(f)
    assert doc["extra"]["codec_version"] == CODEC_VERSION
    Searcher(spark, d)   # current version: opens fine
    doc["extra"]["codec_version"] = 1
    with open(os.path.join(man_dir, snaps[-1]), "w") as f:
        json.dump(doc, f)
    with pytest.raises(ValueError, match="codec_version"):
        Searcher(spark, d)
