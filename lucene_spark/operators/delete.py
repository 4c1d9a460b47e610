"""Deletes and soft deletes with live-docs semantics.

Reference: ``IndexWriter.deleteDocuments(Term)`` buffers term deletes
(``index/BufferedUpdates.java``), which become a per-segment live-docs
bitset (the ``.liv`` file); searches skip deleted docs at collection time
while postings and collection statistics stay untouched until a merge
physically purges them (``index/FreqProxTermsWriter.java:53-80`` applies
deletes at flush; ``SegmentMerger`` drops them). We reproduce exactly
that: a delete commits a snapshot generation with a new tombstone file,
the Searcher masks tombstoned docs after scoring, and stats remain stale
until ``merge_segments`` compacts them away.

Each generation's hard and its soft tombstones are one parquet file each,
``(seg_id int, local_doc_id int)``, sorted and unique, referenced from
``Snapshot.extra["deletes"]`` / ``["soft_deletes"]`` (relative paths —
index dirs stay relocatable). They live on the driver, as a reader's live
docs do: a ``Searcher`` loads every tombstone at open, the way Lucene's
reader loads each segment's ``.liv`` whole. So every change here is
:func:`load_deletes` → numpy set operations → :func:`write_tombstones`,
the one writer, which refuses an id outside its segment. The driver holds
at write time exactly what every reader holds at open: the snapshot's
tombstones, 8 bytes each, at most one per doc of the corpus. Only finding
the docs of a term runs on Spark, as one shuffle-free fan-out
(:func:`_docs_with_term`).
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd

from ..functions.codec import decode_norms, decode_postings
from ..sources.catalog import SnapshotCatalog, publish

#: {extra key: (directory under the index root, extra count key, the
#: columns that address a row)} of the per-doc state files each
#: generation writes; a file holds each address at most once
_FILES = {"deletes": ("deletes", "num_deleted",
                      ("seg_id", "local_doc_id")),
          "soft_deletes": ("deletes", "num_soft_deleted",
                           ("seg_id", "local_doc_id")),
          "dv_updates": ("dv_updates", "num_dv_updates",
                         ("seg_id", "local_doc_id", "field"))}


def ids_by_segment(pdf: pd.DataFrame) -> dict[int, np.ndarray]:
    """{seg_id: sorted unique local_doc_ids} of a ``(seg_id,
    local_doc_id)`` frame."""
    return {int(s): np.unique(g["local_doc_id"].to_numpy(np.int64))
            for s, g in pdf.groupby("seg_id")}


def load_deletes(catalog: SnapshotCatalog, snap,
                 seg_ids=None, key: str = "deletes") -> dict[int, np.ndarray]:
    """{seg_id: sorted unique local_doc_ids} for a snapshot ({} if none).

    The tombstones are a parquet file, or a parquet directory as older
    generations wrote them; pandas reads both. ``seg_ids`` restricts the
    read to those segments via parquet predicate pushdown. ``key``
    selects the tombstone class: ``"deletes"`` (hard) or
    ``"soft_deletes"``."""
    rel = (snap.extra or {}).get(key)
    if not rel:
        return {}
    path = rel if os.path.isabs(rel) else os.path.join(catalog.root, rel)
    filters = ([("seg_id", "in", [int(s) for s in seg_ids])]
               if seg_ids is not None else None)
    return ids_by_segment(pd.read_parquet(path, filters=filters))


def check_addresses(segments: list[dict], seg_ids, local_ids,
                    what: str) -> None:
    """Raise ``ValueError`` unless every ``(seg_ids[i], local_ids[i])``
    addresses a doc of ``segments``: a segment not among them, or an id
    outside ``[0, num_docs)``, would make a reader hide, count or update
    another doc. ``what`` names the rows in the message."""
    num_docs = {int(s["seg_id"]): int(s["num_docs"]) for s in segments}
    segs, at = np.unique(np.asarray(seg_ids, np.int64), return_inverse=True)
    n = np.array([num_docs.get(int(s), -1) for s in segs], np.int64)
    if (n < 0).any():
        raise ValueError(f"{what} for segment {int(segs[n < 0][0])}, which "
                         f"is not in the snapshot")
    ids = np.asarray(local_ids, np.int64)
    bad = (ids < 0) | (ids >= n[at])
    if bad.any():
        s = int(segs[at[bad][0]])
        raise ValueError(f"segment {s}: {what} ids must lie in "
                         f"[0, {num_docs[s]})")


def write_generation(catalog: SnapshotCatalog, key: str, gen: int,
                     table, extra: dict) -> None:
    """Write ``table`` atomically as generation ``gen``'s ``key`` file
    (tombstones or docvalues updates) and point ``extra`` at it with its
    row count; an empty table drops ``key`` and counts 0."""
    import pyarrow.parquet as pq

    subdir, count_key, _ = _FILES[key]
    if not table.num_rows:
        extra.pop(key, None)
        extra[count_key] = 0
        return
    out_dir = os.path.join(catalog.root, subdir)
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, f"gen-{gen}-{uuid.uuid4().hex[:8]}.parquet")
    with publish(final) as tmp:
        pq.write_table(table, tmp)
    extra[key] = os.path.relpath(final, catalog.root)
    extra[count_key] = int(table.num_rows)


def write_tombstones(catalog: SnapshotCatalog, segments: list[dict],
                     gen: int, deletes: dict, extra: dict,
                     key: str = "deletes") -> None:
    """The one tombstone writer: ``deletes`` ({seg_id: local ids}) become
    generation ``gen``'s ``key`` file, sorted and unique, and ``extra``
    points at it with its count (:func:`write_generation`). ``segments``
    are the segments the generation commits; an id that addresses no doc
    of them raises ``ValueError`` (:func:`check_addresses`), since
    ``_live_mask`` would otherwise hide another doc or count a doc that is
    not there."""
    import pyarrow as pa

    sets = {int(s): np.unique(np.asarray(deletes[s], np.int64))
            for s in sorted(deletes)}
    segs = np.repeat(np.fromiter(sets, np.int64, len(sets)),
                     [len(v) for v in sets.values()])
    locs = np.concatenate([np.empty(0, np.int64), *sets.values()])
    check_addresses(segments, segs, locs, "tombstone")
    write_generation(catalog, key, gen, pa.table({
        "seg_id": pa.array(segs.astype(np.int32), pa.int32()),
        "local_doc_id": pa.array(locs.astype(np.int32), pa.int32())}),
        extra)


def _union(deletes: dict, more: dict) -> dict:
    out = dict(deletes)
    for s, ids in more.items():
        out[int(s)] = np.concatenate((out.get(int(s), np.empty(0, np.int64)),
                                      np.asarray(ids, np.int64)))
    return out


def _commit_tombstones(index_dir: str, key: str, edit):
    """Commit the next generation with ``key``'s tombstones replaced by
    ``edit(catalog, snap, tombstones)``; segments and stats are unchanged,
    like a ``segments_N`` that only swaps .liv files. Returns the new
    Snapshot."""
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError(f"no snapshot in {index_dir}")
    extra = dict(snap.extra or {})
    write_tombstones(catalog, snap.segments, snap.snapshot_id + 1,
                     edit(catalog, snap, load_deletes(catalog, snap,
                                                      key=key)),
                     extra, key)
    return catalog.commit(snap.segments, snap.field_stats,
                          snap.term_stats_path, extra=extra)


def _docs_with_term(spark, catalog: SnapshotCatalog, snap, term: str):
    """``(seg_id int, local_doc_id int)`` of every doc of ``snap`` whose
    postings hold ``term``, tombstoned or not: one shuffle-free
    :func:`~.search.fan_out` over the segments, each task reading its own
    ``postings.parquet`` with a pushed ``term ==`` filter (at most one
    row) and decoding the doc ids."""
    import pyarrow.parquet as pq

    from ..session import ensure_shipped
    from .search import fan_out
    ensure_shipped(spark)

    def hits(item):
        seg_id, path = item
        rows = pq.read_table(path, columns=["df", "doc_bytes", "tf_bytes"],
                             filters=[("term", "==", term)]).to_pylist()
        if not rows:
            return None
        ids = decode_postings(rows[0])["doc_ids"]
        return pd.DataFrame({"seg_id": np.full(len(ids), seg_id, np.int32),
                             "local_doc_id": ids.astype(np.int32)})

    return fan_out(spark, [(int(s), os.path.join(catalog.segment_dir(s),
                                                 "postings.parquet"))
                           for s in snap.seg_ids],
                   hits, "seg_id int, local_doc_id int")


def _add_term(spark, term: str):
    """An edit for :func:`_commit_tombstones` that adds ``term``'s docs.
    One job collects them: at most the snapshot's doc count, the bound a
    ``Searcher`` open already holds."""
    def edit(catalog, snap, tombstones):
        hits = _docs_with_term(spark, catalog, snap, term).toPandas()
        return _union(tombstones, ids_by_segment(hits))
    return edit


def delete_by_term(spark, index_dir: str, term: str):
    """Mark every document containing ``term`` as deleted; returns the new
    Snapshot. One Spark job finds and collects the docs
    (:func:`_docs_with_term`); they join the tombstones as
    :func:`delete_by_ids` adds explicit ids."""
    return _commit_tombstones(index_dir, "deletes", _add_term(spark, term))


def delete_by_ids(spark, index_dir: str,
                  doc_ids: dict[int, np.ndarray]):
    """Tombstone explicit (seg_id → local ids); returns the new Snapshot.
    Runs no Spark job. An id outside its segment raises ``ValueError``."""
    return _commit_tombstones(index_dir, "deletes",
                              lambda c, s, t: _union(t, doc_ids))


def locate_global_ids(catalog: SnapshotCatalog, snap, global_ids,
                      spark) -> dict[int, np.ndarray]:
    """Map global doc_ids → {seg_id: local ids}.

    Each segment's ``norms.parquet`` row holds its global doc ids; a
    probe reads it and returns the local ids of the wanted ids. The
    probes fan out over the segments (:func:`~.search.fan_out`) and only
    the hits return, so the driver never reads a segment blob."""
    import pyarrow.parquet as pq

    want = np.unique(np.asarray(list(global_ids), dtype=np.int64))

    def probe(item):
        seg_id, path = item
        gids = decode_norms(pq.read_table(path).to_pylist()[0])[1]
        hit = np.nonzero(np.isin(gids, want))[0]
        return pd.DataFrame({"seg_id": np.full(len(hit), seg_id, np.int32),
                             "local_doc_id": hit.astype(np.int32)})

    items = [(int(s), os.path.join(catalog.segment_dir(s), "norms.parquet"))
             for s in snap.seg_ids]
    if not items:
        return {}
    from ..session import ensure_shipped
    from .search import fan_out
    ensure_shipped(spark)
    return ids_by_segment(fan_out(spark, items, probe,
                                  "seg_id int, local_doc_id int").toPandas())


def soft_delete_by_ids(spark, index_dir: str,
                       doc_ids: dict[int, np.ndarray]):
    """Soft-tombstone explicit (seg_id → local ids); returns the new
    Snapshot.

    Reference: soft deletes mark docs via a numeric DocValues field
    (``IndexWriterConfig.setSoftDeletesField``,
    ``index/PendingSoftDeletes.java:34``): readers treat them exactly
    like hard deletes (masked from every search), but they stay
    physically present and REVIVABLE until a merge decides their fate —
    :func:`lucene_spark.operators.merge.merge_segments` purges them
    unless its ``soft_retention`` predicate keeps them (the
    ``SoftDeletesRetentionMergePolicy.java:51`` role). Here the DV field
    is a second tombstone file (``extra["soft_deletes"]``), which is the
    same reader-visible state the reference derives from the DV field."""
    return _commit_tombstones(index_dir, "soft_deletes",
                              lambda c, s, t: _union(t, doc_ids))


def soft_delete_by_term(spark, index_dir: str, term: str):
    """Soft-delete every document containing ``term``; returns the new
    Snapshot. Found like :func:`delete_by_term`'s docs; only the snapshot
    key differs."""
    return _commit_tombstones(index_dir, "soft_deletes",
                              _add_term(spark, term))


def soft_undelete_by_ids(spark, index_dir: str,
                         doc_ids: dict[int, np.ndarray]):
    """Revive soft-deleted docs (the reference revives by writing the
    soft-deletes DV field back to absent — ``IndexWriter.
    updateNumericDocValue`` on the soft-deletes field): remove the pairs
    from the soft tombstones and commit. Docs never soft-deleted are
    ignored. Returns the new Snapshot."""
    revive = {int(s): np.asarray(ids, np.int64) for s, ids in doc_ids.items()}
    return _commit_tombstones(
        index_dir, "soft_deletes",
        lambda c, s, t: {seg: v[~np.isin(v, revive.get(seg, v[:0]))]
                         for seg, v in t.items()})


def update_documents(spark, index_dir: str, df,
                     doc_id_col: str = "doc_id", **build_kwargs):
    """IndexWriter.updateDocument role: replace docs whose ``doc_id``
    matches a row of ``df`` (delete old copy + append new), returns the
    final Snapshot.

    Ordering: the new segment is appended FIRST, then the old copies are
    tombstoned — so the final generation is consistent; the intermediate
    generation (both versions visible) is transient, like the reference's
    in-flight state between an update's buffered delete and its flush.
    Readers opening the latest snapshot only ever see the final state.
    """
    from .build import build_index
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError(f"no snapshot in {index_dir}")
    ids = [int(r[0]) for r in df.select(doc_id_col).distinct().collect()]
    located = locate_global_ids(catalog, snap, ids, spark)
    build_index(spark, df, index_dir, num_segments=1, doc_id_col=doc_id_col,
                **build_kwargs)
    if located:
        return delete_by_ids(spark, index_dir, located)
    return SnapshotCatalog(index_dir).load()
