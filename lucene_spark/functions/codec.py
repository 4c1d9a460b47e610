"""Posting-list compression kernels: delta + FOR bit-packed 128-blocks with
VByte tails, and per-block competitive (freq, norm) impacts.

Format semantics follow the reference's postings layout — 128-doc blocks of
bit-packed deltas plus a variable-byte tail, with a per-block impact
frontier for block-max pruning — but the byte format itself is ours
(reference: ``codecs/lucene90/Lucene90PostingsWriter.java:219-293,385-427``
for the block/tail split, ``codecs/lucene90/ForUtil.java:36`` BLOCK_SIZE=128,
``codecs/CompetitiveImpactAccumulator.java:96-118`` for the Pareto frontier).
Everything is vectorized numpy; these kernels run inside Arrow UDFs on
executors, so they must never touch per-row Python in hot loops.

Layout per term (each piece lives in its own BinaryType column):

  doc_bytes  = concat over full 128-blocks of
               [header:u8 = width | nexc<<5][packed deltas]
               [(pos:u8, hi:u8) × nexc]  — PFOR: ≤7 patched exceptions
               per block (PForUtil role), hi = value >> width —
               then VByte(tail deltas).  deltas[0] = doc_ids[0].
  tf_bytes   = same block structure over term frequencies.
  pos_bytes  = one VByte stream of within-doc position deltas, doc-major
               (tf_i values per posting i); empty when positions disabled.
  block_last = little-endian u32 array: last local docID of every block
               (including the tail block) — the skip structure that lets
               search bound a block's doc range without decoding it.
  impact_bytes = per block: VByte [n_pairs, tf_1, norm_1, ...] pairs forming
               the Pareto frontier of (tf, norm_byte) in that block.

This module owns the segment formats, as the reference's codec owns each
file's one writer and one reader (``Lucene90PostingsWriter`` /
``PostingsReader``, ``Lucene90NormsConsumer`` / ``NormsProducer``; its
``SegmentMerger`` writes through the consumers a flush uses). Build and
merge turn postings into ``postings.parquet`` rows with
:func:`postings_rows` and :func:`postings_table`; every reader decodes a
row with :class:`TermSegPostings` (by block, for block-max windows) or
:func:`decode_postings`. A segment's ``norms.parquet`` is one row, written
from :func:`norms_row` and read back with :func:`decode_norms`. Callers
read and write the parquet files themselves.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

BLOCK_SIZE = 128

#: On-disk postings format generation, stamped into every snapshot's
#: ``extra["codec_version"]`` at build/merge time (the reference's
#: ``CodecUtil.writeHeader`` version role). Version 2 = PFOR patched
#: exceptions (header byte is ``width | nexc << 5``, width ≤ 31);
#: version-1 blocks could legally use width 32, which a v2 decoder would
#: misread as width 0 with one exception — so readers REJECT mismatched
#: versions explicitly instead of silently misdecoding.
CODEC_VERSION = 2


def check_codec_version(snap) -> None:
    """Raise if a snapshot's postings were written by a different codec
    generation (missing key = pre-PFOR v1 index: rebuild or re-merge)."""
    v = int((snap.extra or {}).get("codec_version", 1))
    if v != CODEC_VERSION:
        raise ValueError(
            f"index codec_version {v} != reader codec_version "
            f"{CODEC_VERSION}: re-encode the index (rebuild or "
            f"force_merge with the current engine) before reading")


__all__ = [
    "BLOCK_SIZE",
    "CODEC_VERSION",
    "check_codec_version",
    "vbyte_encode",
    "vbyte_decode",
    "for_pack",
    "for_unpack",
    "encode_postings",
    "decode_postings",
    "decode_positions",
    "decode_block_ranges",
    "impacts_frontier",
    "decode_impacts",
    "POSTINGS_SCHEMA",
    "postings_schema",
    "postings_rows",
    "postings_table",
    "TermSegPostings",
    "norms_row",
    "norms_table",
    "decode_norms",
]


# ---------------------------------------------------------------------------
# VByte (7-bit groups, high bit = continuation), fully vectorized
# ---------------------------------------------------------------------------

def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int array to a variable-byte stream."""
    vals = np.asarray(values, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return b""
    lengths = np.ones(n, dtype=np.int64)
    v = vals >> np.uint64(7)
    while v.any():
        lengths[v > 0] += 1
        v >>= np.uint64(7)
    offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    total = int(offsets[-1] + lengths[-1])
    out = np.empty(total, dtype=np.uint8)
    j = 0
    remaining = np.arange(n)
    while len(remaining):
        pos = offsets[remaining] + j
        byte = (vals[remaining] >> np.uint64(7 * j)).astype(np.uint64) & np.uint64(0x7F)
        more = lengths[remaining] - 1 > j
        out[pos] = byte.astype(np.uint8) | (more.astype(np.uint8) << 7)
        remaining = remaining[more]
        j += 1
    return out.tobytes()


def vbyte_encode_batched(values: np.ndarray,
                         group_lengths: np.ndarray) -> tuple[bytes, np.ndarray]:
    """VByte-encode many concatenated groups in ONE vectorized pass.

    Returns ``(stream, group_byte_offsets)`` with len(offsets) == G+1 so
    group g's bytes are ``stream[off[g]:off[g+1]]``. This is the fast path
    for encoding thousands of short posting lists per segment: the loop
    count is bounded by max bytes-per-value (≤10), not by the number of
    terms — per-term numpy-call overhead disappears.
    """
    vals = np.asarray(values, dtype=np.uint64)
    glens = np.asarray(group_lengths, dtype=np.int64)
    goff = np.zeros(len(glens) + 1, dtype=np.int64)
    n = len(vals)
    if n == 0:
        return b"", goff
    lengths = np.ones(n, dtype=np.int64)
    v = vals >> np.uint64(7)
    while v.any():
        lengths[v > 0] += 1
        v >>= np.uint64(7)
    maxlen = int(lengths.max())
    if n * maxlen <= (1 << 28):
        # fast path: padded byte planes + one boolean-mask gather —
        # contiguous column writes instead of per-plane scatter (the
        # scatter loop below is kept for the rare huge-batch case where
        # the n×maxlen planes would not fit comfortably in memory)
        planes = np.empty((n, maxlen), dtype=np.uint8)
        keep = np.empty((n, maxlen), dtype=bool)
        for j in range(maxlen):
            col = (vals >> np.uint64(7 * j)) & np.uint64(0x7F)
            more = lengths - 1 > j
            planes[:, j] = col.astype(np.uint8) | (more.astype(np.uint8) << 7)
            keep[:, j] = lengths > j
        out = planes[keep]
        value_end = np.cumsum(lengths)
        gend = np.cumsum(glens)
        goff[1:] = np.where(gend > 0, value_end[np.maximum(gend - 1, 0)], 0)
        np.maximum.accumulate(goff, out=goff)
        return out.tobytes(), goff
    offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    total = int(offsets[-1] + lengths[-1])
    out = np.empty(total, dtype=np.uint8)
    j = 0
    remaining = np.arange(n)
    while len(remaining):
        pos = offsets[remaining] + j
        byte = (vals[remaining] >> np.uint64(7 * j)) & np.uint64(0x7F)
        more = lengths[remaining] - 1 > j
        out[pos] = byte.astype(np.uint8) | (more.astype(np.uint8) << 7)
        remaining = remaining[more]
        j += 1
    value_end = offsets + lengths
    gend = np.cumsum(glens)
    goff[1:] = np.where(gend > 0, value_end[np.maximum(gend - 1, 0)], 0)
    # zero-length groups inherit the previous offset
    np.maximum.accumulate(goff, out=goff)
    return out.tobytes(), goff


def vbyte_decode(buf: bytes, count: int | None = None, offset: int = 0) -> np.ndarray:
    """Decode a VByte stream (from ``offset`` to end) into int64 values."""
    b = np.frombuffer(buf, dtype=np.uint8, offset=offset)
    if len(b) == 0:
        return np.empty(0, dtype=np.int64)
    cont = (b & 0x80) > 0
    ends = np.nonzero(~cont)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    vals = np.zeros(len(ends), dtype=np.uint64)
    active = np.arange(len(ends))
    j = 0
    while len(active):
        pos = starts[active] + j
        vals[active] |= (b[pos] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
        active = active[pos < ends[active]]
        j += 1
    out = vals.astype(np.int64)
    if count is not None:
        out = out[:count]
    return out


# ---------------------------------------------------------------------------
# PFOR: patched fixed-width bit packing of exactly BLOCK_SIZE uint32 values
# ---------------------------------------------------------------------------

#: ≤7 patched exceptions per block, like the reference
#: (``codecs/lucene90/PForUtil.java:31-33`` MAX_EXCEPTIONS = 7).
PFOR_MAX_EXCEPTIONS = 7


def _bit_lengths(a: np.ndarray) -> np.ndarray:
    out = np.zeros(a.shape, dtype=np.int64)
    v = np.asarray(a, dtype=np.int64).copy()
    while v.any():
        out[v > 0] += 1
        v >>= 1
    return out


def for_pack(vals: np.ndarray) -> bytes:
    """Patched-FOR a block: pack at the width covering all but ≤7
    exception values; each exception stores (position u8, high-bits u8)
    after the packed body (the reference PForUtil's patching idea:
    ``codecs/lucene90/PForUtil.java:64-140`` — ours keeps exception high
    bits in ONE byte, so the width never drops more than 8 bits below the
    max and block byte length stays computable from the header alone).

    Header byte = ``width | (num_exceptions << 5)`` (width ≤ 31,
    exceptions ≤ 7). Width 0 with no exceptions (all zeros) stores only
    the header — the all-equal degenerate case.
    The exception count is chosen to minimize the block's byte size;
    ties prefer fewer exceptions, so blocks that don't profit from
    patching encode exactly as plain FOR (back-compatible: a plain-FOR
    header is just ``width`` with the high bits clear).
    """
    vals = np.asarray(vals, dtype=np.uint32)
    n = len(vals)
    if n == 0:
        return bytes([0])
    order = np.argsort(-vals.astype(np.int64), kind="stable")
    sdesc = vals[order].astype(np.int64)
    maxbl = int(sdesc[0]).bit_length()
    if maxbl > 31:
        raise ValueError("PFOR values must fit 31 bits")
    best = None
    for k in range(0, min(PFOR_MAX_EXCEPTIONS, n - 1) + 1):
        wk = max(int(sdesc[k]).bit_length(), maxbl - 8)
        size = 1 + (n * wk + 7) // 8 + 2 * k
        if best is None or size < best[0]:
            best = (size, k, wk)
    _, k, w = best
    packed = vals.copy()
    exc_pos = np.sort(order[:k])
    his = (packed[exc_pos] >> np.uint32(w)).astype(np.uint8)
    packed[exc_pos] &= np.uint32((1 << w) - 1)
    header = bytes([w | (k << 5)])
    if w == 0:
        body = b""
    else:
        bits = np.unpackbits(packed.astype(">u4").view(np.uint8)
                             .reshape(-1, 4), axis=1)[:, 32 - w:]
        body = np.packbits(bits.ravel()).tobytes()
    exc = np.empty(2 * k, dtype=np.uint8)
    exc[0::2] = exc_pos
    exc[1::2] = his
    return header + body + exc.tobytes()


def for_pack_many(blocks: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Patched-FOR many BLOCK_SIZE-value blocks in one vectorized pass.

    ``blocks`` is (B, BLOCK_SIZE) uint32. Returns ``(stream, offsets)``
    (len B+1) with block b's bytes at ``stream[off[b]:off[b+1]]`` —
    byte-identical to :func:`for_pack` per block. Exception selection
    (count, positions, widths) is computed for ALL blocks at once; blocks
    are then grouped by chosen width so the pack loop runs once per
    distinct width (≤32), not once per block.
    """
    blocks = np.asarray(blocks, dtype=np.uint32)
    B = blocks.shape[0]
    boff = np.zeros(B + 1, dtype=np.int64)
    if B == 0:
        return b"", boff
    order = np.argsort(-blocks.astype(np.int64), axis=1, kind="stable")
    sdesc = np.take_along_axis(blocks, order, axis=1).astype(np.int64)
    K = PFOR_MAX_EXCEPTIONS + 1
    blmat = _bit_lengths(sdesc[:, :K])              # (B, 8)
    maxbl = blmat[:, 0]
    if (maxbl > 31).any():
        raise ValueError("PFOR values must fit 31 bits")
    w_k = np.maximum(blmat, (maxbl - 8)[:, None])   # width for k exceptions
    sizes = 1 + (BLOCK_SIZE * w_k + 7) // 8 + 2 * np.arange(K)[None, :]
    kbest = np.argmin(sizes, axis=1)                # first min = fewest exc
    wbest = w_k[np.arange(B), kbest]
    nbytes = (BLOCK_SIZE * wbest) // 8
    boff[1:] = np.cumsum(1 + nbytes + 2 * kbest)
    out = np.zeros(int(boff[-1]), dtype=np.uint8)
    out[boff[:-1]] = wbest | (kbest << 5)
    # patch exceptions (top-k values per block, value desc / pos asc)
    packed = blocks.copy()
    take = np.arange(BLOCK_SIZE)[None, :] < kbest[:, None]
    rows = np.repeat(np.arange(B, dtype=np.int64), kbest)
    cols = order[take]                              # row-major flatten
    if len(rows):
        packed[rows, cols] &= ((np.uint32(1) << wbest[rows].astype(np.uint32))
                               - np.uint32(1))
        # write (pos, hi) pairs sorted by position within each block
        o2 = np.lexsort((cols, rows))
        r2, c2 = rows[o2], cols[o2]
        his = (blocks[r2, c2].astype(np.int64)
               >> wbest[r2]).astype(np.uint8)
        kcum = np.concatenate(([0], np.cumsum(kbest)))
        ranks = np.arange(len(r2)) - np.repeat(kcum[:-1], kbest)
        base = boff[r2] + 1 + nbytes[r2] + 2 * ranks
        out[base] = c2.astype(np.uint8)
        out[base + 1] = his
    for w in np.unique(wbest[wbest > 0]):
        sel = np.nonzero(wbest == w)[0]
        sub = packed[sel]
        bits = np.unpackbits(
            sub.astype(">u4").view(np.uint8).reshape(len(sel), BLOCK_SIZE, 4),
            axis=2)[:, :, 32 - w:]
        pk = np.packbits(bits.reshape(len(sel), BLOCK_SIZE * int(w)), axis=1)
        idx = boff[sel, None] + 1 + np.arange(pk.shape[1])
        out[idx] = pk
    return out.tobytes(), boff


def for_unpack(buf: bytes, offset: int, n: int = BLOCK_SIZE) -> tuple[np.ndarray, int]:
    """Inverse of :func:`for_pack`; returns (values, next_offset)."""
    header = buf[offset]
    offset += 1
    w = header & 31
    k = header >> 5
    if w == 0:
        vals = np.zeros(n, dtype=np.uint32)
    else:
        nbytes = (n * w + 7) // 8
        bits = np.unpackbits(
            np.frombuffer(buf, np.uint8, nbytes, offset))[: n * w].reshape(n, w)
        padded = np.zeros((n, 32), dtype=np.uint8)
        padded[:, 32 - w:] = bits
        vals = np.packbits(padded, axis=1).reshape(n, 4).copy() \
            .view(">u4").ravel().astype(np.uint32)
        offset += nbytes
    if k:
        exc = np.frombuffer(buf, np.uint8, 2 * k, offset)
        offset += 2 * k
        vals[exc[0::2].astype(np.int64)] |= \
            exc[1::2].astype(np.uint32) << np.uint32(w)
    return vals, offset


def _pfor_block_size(header: int, n: int = BLOCK_SIZE) -> int:
    """Byte length of a PFOR block (incl. header) from its header byte."""
    w = header & 31
    return 1 + (n * w) // 8 + 2 * (header >> 5)


# ---------------------------------------------------------------------------
# Blocked stream: full FOR blocks + VByte tail
# ---------------------------------------------------------------------------

def _encode_blocked(vals: np.ndarray) -> bytes:
    """FOR-pack every full 128-value block, VByte the tail."""
    vals = np.asarray(vals, dtype=np.uint64)
    nfull = len(vals) // BLOCK_SIZE
    parts = [for_pack(vals[i * BLOCK_SIZE:(i + 1) * BLOCK_SIZE].astype(np.uint32))
             for i in range(nfull)]
    tail = vals[nfull * BLOCK_SIZE:]
    if len(tail):
        parts.append(vbyte_encode(tail))
    return b"".join(parts)


def _decode_blocked(buf: bytes, count: int) -> np.ndarray:
    nfull = count // BLOCK_SIZE
    out = np.empty(count, dtype=np.int64)
    off = 0
    for i in range(nfull):
        vals, off = for_unpack(buf, off)
        out[i * BLOCK_SIZE:(i + 1) * BLOCK_SIZE] = vals
    ntail = count - nfull * BLOCK_SIZE
    if ntail:
        out[nfull * BLOCK_SIZE:] = vbyte_decode(buf, ntail, offset=off)
    return out


# ---------------------------------------------------------------------------
# Impacts: per-block Pareto frontier of (tf, norm_byte)
# ---------------------------------------------------------------------------

def impacts_frontier(tfs: np.ndarray, norms: np.ndarray) -> list[tuple[int, int]]:
    """Competitive (tf, norm) pairs: keep a pair iff no other pair has
    tf' >= tf and norm' <= norm (higher freq and shorter doc both mean a
    higher possible score). Mirrors CompetitiveImpactAccumulator semantics.
    Returned sorted by tf descending, norm strictly decreasing.
    """
    tfs = np.asarray(tfs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    order = np.lexsort((norms, -tfs))  # tf desc, then norm asc
    out: list[tuple[int, int]] = []
    min_norm = 1 << 30
    for idx in order:
        if norms[idx] < min_norm:
            out.append((int(tfs[idx]), int(norms[idx])))
            min_norm = int(norms[idx])
    return out


def _encode_impacts(tfs: np.ndarray, norms_per_doc: np.ndarray) -> bytes:
    """Per 128-block (incl. tail) frontier, one VByte group per block."""
    n = len(tfs)
    parts = []
    for start in range(0, max(n, 1), BLOCK_SIZE):
        t = tfs[start:start + BLOCK_SIZE]
        m = norms_per_doc[start:start + BLOCK_SIZE]
        pairs = impacts_frontier(t, m)
        flat = [len(pairs)]
        for f, nm in pairs:
            flat.extend((f, nm))
        parts.append(vbyte_encode(np.array(flat, dtype=np.int64)))
    return b"".join(parts)


def decode_impacts(buf: bytes, num_blocks: int) -> list[np.ndarray]:
    """Returns per block an array of shape (n_pairs, 2) [[tf, norm], ...]."""
    vals = vbyte_decode(buf)
    out = []
    i = 0
    for _ in range(num_blocks):
        npairs = int(vals[i])
        i += 1
        out.append(vals[i:i + 2 * npairs].reshape(npairs, 2))
        i += 2 * npairs
    return out


# ---------------------------------------------------------------------------
# Whole-term encode/decode
# ---------------------------------------------------------------------------

def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions: np.ndarray | None,
    norms_lookup: np.ndarray,
) -> dict:
    """Encode one term's postings within one segment.

    doc_ids: strictly increasing local docIDs (int); tfs: per-doc term freq;
    positions: concatenated within-doc token positions, doc-major (may be
    None); norms_lookup: uint8 norm byte per local docID of the segment
    (used for impacts).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    df = len(doc_ids)
    deltas = np.diff(doc_ids, prepend=0)
    deltas[0] = doc_ids[0]
    doc_bytes = _encode_blocked(deltas)
    tf_bytes = _encode_blocked(tfs)
    if positions is not None and len(positions):
        # per-doc position deltas: first pos absolute, then gaps
        pos = np.asarray(positions, dtype=np.int64)
        bounds = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        pd_ = np.diff(pos, prepend=0)
        pd_[bounds] = pos[bounds]
        pos_bytes = vbyte_encode(pd_)
    else:
        pos_bytes = b""
    nb = (df + BLOCK_SIZE - 1) // BLOCK_SIZE
    last_ids = doc_ids[np.minimum(np.arange(1, nb + 1) * BLOCK_SIZE - 1, df - 1)]
    block_last = last_ids.astype("<u4").tobytes()
    impact_bytes = _encode_impacts(tfs, norms_lookup[doc_ids])
    return {
        "df": df,
        "ttf": int(tfs.sum()),
        "doc_bytes": doc_bytes,
        "tf_bytes": tf_bytes,
        "pos_bytes": pos_bytes,
        "block_last": block_last,
        "impact_bytes": impact_bytes,
    }


def encode_postings_batch(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions: np.ndarray | None,
    norms_lookup: np.ndarray,
    term_offsets: np.ndarray,
) -> dict:
    """Encode EVERY term of a segment at once (same byte format as
    :func:`encode_postings`, decoder-compatible).

    ``doc_ids``/``tfs`` are posting-level arrays, concatenated per term in
    term order; ``term_offsets`` (len T+1) bounds each term's postings.
    ``positions`` is token-level (doc-major within each posting), aligned
    with ``repeat(doc_ids, tfs)``, or None.

    Terms with df < BLOCK_SIZE (the Zipf tail — the overwhelming majority)
    are encoded with single vectorized VByte passes over all terms at once;
    only multi-block terms take the per-term path. This is what keeps the
    segment-build kernel numpy-bound instead of Python-call-bound.
    Returns dict of per-term lists/arrays, aligned with term order.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    toff = np.asarray(term_offsets, dtype=np.int64)
    T = len(toff) - 1
    dfs = toff[1:] - toff[:-1]
    out: dict = {
        "df": dfs.astype(np.int64),
        "ttf": np.add.reduceat(tfs, toff[:-1]) if len(tfs) else
               np.zeros(T, np.int64),
        "doc_bytes": [b""] * T, "tf_bytes": [b""] * T,
        "pos_bytes": [b""] * T, "block_last": [b""] * T,
        "impact_bytes": [b""] * T,
    }
    if T == 0:
        return out
    if len(tfs) == 0:
        out["ttf"] = np.zeros(T, np.int64)
        return out

    # Unified fully-batched path: every per-value numpy pass runs ONCE over
    # all terms (deltas, VByte tails, FOR blocks grouped by width, the
    # impacts frontier per (term, block)); the only per-term work left is
    # byte-slice assembly.
    ptr = np.arange(len(doc_ids), dtype=np.int64) \
        - np.repeat(toff[:-1], dfs)               # posting idx within term
    nfull = dfs // BLOCK_SIZE                     # full FOR blocks per term
    tail_lens = dfs - nfull * BLOCK_SIZE

    # doc deltas with per-term reset
    deltas = np.diff(doc_ids, prepend=0)
    deltas[toff[:-1]] = doc_ids[toff[:-1]]

    # ---- full 128-blocks, all terms at once ---------------------------
    Bfull = int(nfull.sum())
    if Bfull:
        bterm = np.repeat(np.arange(T, dtype=np.int64), nfull)
        bj = np.arange(Bfull, dtype=np.int64) \
            - np.repeat(np.concatenate(([0], np.cumsum(nfull)[:-1])), nfull)
        bstart = toff[bterm] + bj * BLOCK_SIZE
        gather = bstart[:, None] + np.arange(BLOCK_SIZE)
        docblk_stream, docblk_off = for_pack_many(
            deltas[gather].astype(np.uint32))
        tfblk_stream, tfblk_off = for_pack_many(tfs[gather].astype(np.uint32))
        # first FOR block of each term within the block streams
        term_blk0 = np.concatenate(([0], np.cumsum(nfull)))
    # ---- tails (df % 128), all terms at once --------------------------
    in_tail = ptr >= nfull[np.repeat(np.arange(T), dfs)] * BLOCK_SIZE
    doc_tail_stream, doc_tail_off = vbyte_encode_batched(
        deltas[in_tail], tail_lens)
    tf_tail_stream, tf_tail_off = vbyte_encode_batched(
        tfs[in_tail], tail_lens)

    # ---- positions: one VByte stream per term (block-independent) -----
    if positions is not None and len(positions):
        tok_off_post = np.concatenate(([0], np.cumsum(tfs)))
        pd_ = np.diff(positions, prepend=0)
        pd_[tok_off_post[:-1]] = positions[tok_off_post[:-1]]
        term_tok_lens = np.add.reduceat(tfs, toff[:-1])
        pos_stream, pos_goff = vbyte_encode_batched(pd_, term_tok_lens)
    else:
        pos_stream, pos_goff = b"", None

    # ---- block_last: last docID of every block incl. tail block -------
    nblocks = (dfs + BLOCK_SIZE - 1) // BLOCK_SIZE
    NB = int(nblocks.sum())
    lterm = np.repeat(np.arange(T, dtype=np.int64), nblocks)
    lj = np.arange(NB, dtype=np.int64) \
        - np.repeat(np.concatenate(([0], np.cumsum(nblocks)[:-1])), nblocks)
    last_idx = toff[lterm] + np.minimum((lj + 1) * BLOCK_SIZE - 1,
                                        dfs[lterm] - 1)
    last_bytes = doc_ids[last_idx].astype("<u4").tobytes()
    term_lb0 = np.concatenate(([0], np.cumsum(nblocks)))

    # ---- impacts: Pareto frontier per (term, block) -------------------
    # Sort (group, tf desc, norm asc); an entry survives iff it is its
    # group's first entry or its norm beats the strict running min so far —
    # identical selection/order to impacts_frontier's loop.
    gidx = term_lb0[np.repeat(np.arange(T), dfs)] + ptr // BLOCK_SIZE
    norms_arr = norms_lookup[doc_ids].astype(np.int64)
    order = np.lexsort((norms_arr, -tfs, gidx))
    g_s, f_s, n_s = gidx[order], tfs[order], norms_arr[order]
    w = g_s * 256 + (255 - n_s)
    prefmax = np.maximum.accumulate(w)
    prefmax_excl = np.concatenate(([np.int64(-1)], prefmax[:-1]))
    is_start = np.empty(len(g_s), dtype=bool)
    is_start[0] = True
    is_start[1:] = g_s[1:] != g_s[:-1]
    runmin_excl = 255 - (prefmax_excl - g_s * 256)
    keep = is_start | (n_s < runmin_excl)
    counts = np.bincount(g_s[keep], minlength=NB)
    flat_lens = 1 + 2 * counts
    flat_off = np.concatenate(([0], np.cumsum(flat_lens)))
    flat = np.zeros(int(flat_off[-1]), dtype=np.int64)
    flat[flat_off[:-1]] = counts
    kg, kf, kn = g_s[keep], f_s[keep], n_s[keep]
    kstart = np.concatenate(([0], np.cumsum(counts)[:-1]))
    rank = np.arange(len(kg)) - np.repeat(kstart, counts)
    base = flat_off[kg] + 1 + 2 * rank
    flat[base] = kf
    flat[base + 1] = kn
    imp_stream, imp_goff = vbyte_encode_batched(flat, flat_lens)

    # ---- assembly: byte slicing only ----------------------------------
    for t in range(T):
        if nfull[t]:
            b0, b1 = term_blk0[t], term_blk0[t + 1]
            dblk = docblk_stream[docblk_off[b0]:docblk_off[b1]]
            tblk = tfblk_stream[tfblk_off[b0]:tfblk_off[b1]]
        else:
            dblk = tblk = b""
        out["doc_bytes"][t] = dblk + \
            doc_tail_stream[doc_tail_off[t]:doc_tail_off[t + 1]]
        out["tf_bytes"][t] = tblk + \
            tf_tail_stream[tf_tail_off[t]:tf_tail_off[t + 1]]
        out["block_last"][t] = last_bytes[term_lb0[t] * 4:term_lb0[t + 1] * 4]
        lb0, lb1 = term_lb0[t], term_lb0[t + 1]
        out["impact_bytes"][t] = imp_stream[imp_goff[lb0]:imp_goff[lb1]]
        if pos_goff is not None:
            out["pos_bytes"][t] = pos_stream[pos_goff[t]:pos_goff[t + 1]]
    return out


def decode_postings(row: dict, with_positions: bool = False) -> dict:
    """Inverse of :func:`encode_postings` → dict of numpy arrays."""
    df = int(row["df"])
    deltas = _decode_blocked(row["doc_bytes"], df)
    doc_ids = np.cumsum(deltas)
    tfs = _decode_blocked(row["tf_bytes"], df)
    out = {"doc_ids": doc_ids, "tfs": tfs}
    if with_positions and row.get("pos_bytes"):
        out["positions"] = decode_positions(row["pos_bytes"], tfs)
    return out


def decode_positions(pos_bytes: bytes, tfs: np.ndarray) -> np.ndarray:
    """Positions aligned with ``repeat(doc_ids, tfs)``: the per-doc
    position deltas of ``pos_bytes`` summed within each doc."""
    if not pos_bytes:
        return np.empty(0, np.int64)
    cum = np.cumsum(vbyte_decode(pos_bytes))
    bounds = np.concatenate(([0], np.cumsum(tfs)[:-1]))  # start idx per doc
    # position[i] = cum[i] - cum[last idx of previous doc] (segmented cumsum)
    prev_end = np.concatenate(([0], cum[bounds[1:] - 1])) if len(bounds) > 1 \
        else np.zeros(1, dtype=np.int64)
    return cum - np.repeat(prev_end, tfs)


def decode_block_ranges(block_last: bytes) -> np.ndarray:
    """Last local docID per block, int64 array."""
    return np.frombuffer(block_last, dtype="<u4").astype(np.int64)


# ---------------------------------------------------------------------------
# Segment files: postings rows and the norms row
# ---------------------------------------------------------------------------

#: arrow schema of a segment's ``postings.parquet``, written by build and
#: merge alike; an index with payloads appends ``pay_bytes``
POSTINGS_SCHEMA = pa.schema([
    ("term", pa.string()), ("seg_id", pa.int32()), ("df", pa.int32()),
    ("ttf", pa.int64()), ("doc_bytes", pa.binary()), ("tf_bytes", pa.binary()),
    ("pos_bytes", pa.binary()), ("block_last", pa.binary()),
    ("impact_bytes", pa.binary()),
])

#: the encoded columns whose bytes a segment's ``bytes_compressed`` counts
_BLOB_COLUMNS = ("doc_bytes", "tf_bytes", "pos_bytes", "block_last",
                 "impact_bytes")

#: arrow schema of a segment's ``norms.parquet``: one row holding the norm
#: byte and the global doc id of every local doc
_NORMS_SCHEMA = pa.schema([
    ("seg_id", pa.int32()), ("num_docs", pa.int64()),
    ("norm_bytes", pa.binary()), ("global_doc_ids", pa.binary()),
])


def postings_schema(payloads: bool) -> pa.Schema:
    return (POSTINGS_SCHEMA.append(pa.field("pay_bytes", pa.binary()))
            if payloads else POSTINGS_SCHEMA)


def postings_rows(terms, seg_id: int, ids: np.ndarray, tfs: np.ndarray,
                  positions: np.ndarray | None,
                  payloads: np.ndarray | None, norm_bytes: np.ndarray,
                  term_offsets: np.ndarray) -> pd.DataFrame:
    """A segment's postings rows, one per term, for build and merge alike.

    ``terms`` are sorted; ``ids``/``tfs``/``positions``/``term_offsets``
    are :func:`encode_postings_batch`'s arguments. ``payloads`` (float32,
    aligned with the positions) is None for an index without payloads,
    else each term's slice becomes its ``pay_bytes``. No terms give an
    empty frame of object columns."""
    cols = postings_schema(payloads is not None).names
    if len(terms) == 0:
        return pd.DataFrame(columns=cols)
    enc = encode_postings_batch(ids, tfs, positions, norm_bytes,
                                term_offsets)
    if payloads is not None:
        tok = np.concatenate(([0], np.cumsum(tfs)))[term_offsets]
        enc["pay_bytes"] = [payloads[a:b].astype("<f4").tobytes()
                            for a, b in zip(tok[:-1], tok[1:])]
    return pd.DataFrame({"term": terms, "seg_id": np.int32(seg_id), **enc},
                        columns=cols)


def postings_table(rows: pd.DataFrame) -> tuple[pa.Table, int]:
    """:func:`postings_rows` as the Arrow table of ``postings.parquet``,
    and the bytes of its encoded postings (a segment's
    ``bytes_compressed``)."""
    import pyarrow.compute as pc
    table = pa.Table.from_pandas(
        rows, schema=postings_schema("pay_bytes" in rows.columns),
        preserve_index=False)
    return table, sum(pc.sum(pc.binary_length(table[c])).as_py() or 0
                      for c in _BLOB_COLUMNS)


def norms_row(seg_id: int, norm_bytes: np.ndarray,
              global_ids: np.ndarray) -> dict:
    """The one row of a segment's ``norms.parquet``: each local doc's
    norm byte and global doc id, in local doc id order."""
    return {"seg_id": seg_id, "num_docs": len(norm_bytes),
            "norm_bytes": np.asarray(norm_bytes, np.uint8).tobytes(),
            "global_doc_ids": np.asarray(global_ids, "<i8").tobytes()}


def norms_table(row: dict) -> pa.Table:
    """:func:`norms_row` as the Arrow table of ``norms.parquet``."""
    return pa.Table.from_pylist([row], schema=_NORMS_SCHEMA)


def decode_norms(row) -> tuple[np.ndarray, np.ndarray]:
    """(norm bytes ``uint8``, global doc ids ``int64``) of a norms row,
    one per local doc id."""
    return (np.frombuffer(row["norm_bytes"], dtype=np.uint8),
            np.frombuffer(row["global_doc_ids"], dtype="<i8"))


# ---------------------------------------------------------------------------
# The postings reader
# ---------------------------------------------------------------------------

class TermSegPostings:
    """Lazy reader over one (term, segment) postings row: decodes 128-doc
    FOR blocks on demand; never touches blocks outside visited windows."""

    def __init__(self, row: dict):
        self.df = int(row["df"])
        self.doc_buf = row["doc_bytes"]
        self.tf_buf = row["tf_bytes"]
        self.pos_buf = row["pos_bytes"]
        # optional payload stream (payload-indexed builds only): raw
        # little-endian float32, one per position, doc-major
        self.pay_buf = row.get("pay_bytes")
        self.block_last = decode_block_ranges(row["block_last"])
        self.impact_bytes = row["impact_bytes"]
        self.n_blocks = len(self.block_last)
        self.n_full = self.df // BLOCK_SIZE
        self._block_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._offsets: tuple[np.ndarray, np.ndarray] | None = None
        self._all: tuple[np.ndarray, np.ndarray] | None = None
        self._positions: np.ndarray | None = None

    # -- offsets of each FOR block inside doc/tf streams --------------------
    def _block_offsets(self):
        if self._offsets is None:
            doc_off = np.zeros(self.n_full + 1, dtype=np.int64)
            tf_off = np.zeros(self.n_full + 1, dtype=np.int64)
            for b in range(self.n_full):
                # PFOR header: width | nexc<<5 → block length is
                # header-computable
                doc_off[b + 1] = doc_off[b] + \
                    _pfor_block_size(self.doc_buf[doc_off[b]])
                tf_off[b + 1] = tf_off[b] + \
                    _pfor_block_size(self.tf_buf[tf_off[b]])
            self._offsets = (doc_off, tf_off)
        return self._offsets

    def _decode_block(self, b: int):
        """(doc_ids, tfs) of block b."""
        hit = self._block_cache.get(b)
        if hit is not None:
            return hit
        doc_off, tf_off = self._block_offsets()
        base = int(self.block_last[b - 1]) if b > 0 else None
        if b < self.n_full:
            deltas, _ = for_unpack(self.doc_buf, int(doc_off[b]))
            tfs, _ = for_unpack(self.tf_buf, int(tf_off[b]))
            ids = np.cumsum(deltas.astype(np.int64))
            ids += base if base is not None else 0
            tfs = tfs.astype(np.int64)
        else:  # tail block (VByte)
            ntail = self.df - self.n_full * BLOCK_SIZE
            deltas = vbyte_decode(self.doc_buf, ntail, offset=int(doc_off[-1]))
            tfs = vbyte_decode(self.tf_buf, ntail, offset=int(tf_off[-1]))
            ids = np.cumsum(deltas)
            ids += base if base is not None else 0
        self._block_cache[b] = (ids, tfs)
        return ids, tfs

    def decode_all(self):
        """(doc_ids, tfs) of every posting: one sequential walk of the
        streams, :func:`decode_postings`'s."""
        if self._all is None:
            self._all = (np.cumsum(_decode_blocked(self.doc_buf, self.df)),
                         _decode_blocked(self.tf_buf, self.df))
        return self._all

    def in_range(self, lo: int, hi: int):
        """(doc_ids, tfs) with lo <= id < hi, decoding only needed blocks."""
        if self._all is not None:
            ids, tfs = self._all
            i0, i1 = np.searchsorted(ids, [lo, hi])
            return ids[i0:i1], tfs[i0:i1]
        if self.n_blocks == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        b0 = int(np.searchsorted(self.block_last, lo, side="left"))
        if b0 >= self.n_blocks:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        ids_parts, tf_parts = [], []
        for b in range(b0, self.n_blocks):
            start = int(self.block_last[b - 1]) + 1 if b > 0 else 0
            if start >= hi:
                break
            ids, tfs = self._decode_block(b)
            ids_parts.append(ids)
            tf_parts.append(tfs)
        if not ids_parts:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        ids = np.concatenate(ids_parts)
        tfs = np.concatenate(tf_parts)
        i0, i1 = np.searchsorted(ids, [lo, hi])
        return ids[i0:i1], tfs[i0:i1]

    def positions(self):
        """Decoded positions aligned with repeat(doc_ids, tfs)."""
        if self._positions is None:
            self._positions = decode_positions(self.pos_buf,
                                               self.decode_all()[1])
        return self._positions

    def payloads(self) -> np.ndarray | None:
        """Decoded payload floats aligned with repeat(doc_ids, tfs);
        None when the index carries no payloads."""
        if self.pay_buf is None:
            return None
        return np.frombuffer(self.pay_buf, dtype="<f4")

    def block_max_scores(self, weight: np.float32, cache: np.ndarray,
                         sim) -> np.ndarray:
        """Each block's best score under the similarity ``sim``, from its
        impact frontier."""
        imps = decode_impacts(self.impact_bytes, self.n_blocks)
        out = np.empty(len(imps), dtype=np.float32)
        for i, pairs in enumerate(imps):
            out[i] = (np.float32(0.0) if len(pairs) == 0 else
                      sim.score(pairs[:, 0], pairs[:, 1], weight,
                                cache).max())
        return out
