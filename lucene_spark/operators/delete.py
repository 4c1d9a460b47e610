"""Delete-by-term with live-docs semantics.

Reference: ``IndexWriter.deleteDocuments(Term)`` buffers term deletes
(``index/BufferedUpdates.java``), which become a per-segment live-docs
bitset (the ``.liv`` file); searches skip deleted docs at collection time
while postings and collection statistics stay untouched until a merge
physically purges them (``index/FreqProxTermsWriter.java:53-80`` applies
deletes at flush; ``SegmentMerger`` drops them). We reproduce exactly
that: ``delete_by_term`` writes a tombstone table + new snapshot, the
Searcher masks tombstoned docs after scoring, stats remain stale until
``merge_segments`` compacts them away.

Tombstones live in a parquet table ``(seg_id int, local_doc_id int)``
per snapshot generation, referenced from ``Snapshot.extra["deletes"]``
(relative path — index dirs stay relocatable): a single driver-written
file for the bounded ``delete_by_ids`` path, an executor-written parquet
DIRECTORY for the unbounded ``delete_by_term`` path (decoded, deduped
and written entirely on executors — the driver never materializes a
tombstone row). At 100 TB the tombstone table stays tiny relative to the
corpus (deletes ≤ 33% triggers merges in the reference's
TieredMergePolicy); readers slice it per segment with parquet predicate
pushdown.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd

from ..functions.codec import decode_postings
from ..sources.catalog import SnapshotCatalog


def load_deletes(catalog: SnapshotCatalog, snap,
                 seg_ids=None, key: str = "deletes") -> dict[int, np.ndarray]:
    """{seg_id: sorted unique local_doc_ids} for a snapshot ({} if none).

    The tombstone store is a parquet file (driver-written, delete_by_ids
    path) or a parquet DIRECTORY (executor-written, delete_by_term path)
    — pyarrow reads both. ``seg_ids`` restricts the read to those
    segments via parquet predicate pushdown, so a caller that only needs
    a few segments' tombstones (a merge) never materializes the full
    table. ``key`` selects the tombstone class: ``"deletes"`` (hard) or
    ``"soft_deletes"``."""
    rel = (snap.extra or {}).get(key)
    if not rel:
        return {}
    path = rel if os.path.isabs(rel) else os.path.join(catalog.root, rel)
    filters = ([("seg_id", "in", [int(s) for s in seg_ids])]
               if seg_ids is not None else None)
    pdf = pd.read_parquet(path, filters=filters)
    return {int(s): np.unique(g["local_doc_id"].to_numpy(np.int64))
            for s, g in pdf.groupby("seg_id")}


def write_tombstone_file(catalog: SnapshotCatalog, gen: int,
                         deletes: dict[int, np.ndarray]) -> tuple[str, int]:
    """Atomically write the tombstone parquet; returns (relpath, count)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    del_dir = os.path.join(catalog.root, "deletes")
    os.makedirs(del_dir, exist_ok=True)
    segs = np.concatenate([np.full(len(v), s, dtype=np.int32)
                           for s, v in sorted(deletes.items())]) \
        if deletes else np.empty(0, np.int32)
    locs = np.concatenate([v.astype(np.int32)
                           for _, v in sorted(deletes.items())]) \
        if deletes else np.empty(0, np.int32)
    tmp = os.path.join(del_dir, f"_tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(pa.table({"seg_id": pa.array(segs, pa.int32()),
                             "local_doc_id": pa.array(locs, pa.int32())}),
                   tmp)
    final = os.path.join(del_dir,
                         f"gen-{gen}-{uuid.uuid4().hex[:8]}.parquet")
    os.rename(tmp, final)
    return os.path.relpath(final, catalog.root), int(len(locs))


def _write_deletes(catalog: SnapshotCatalog, snap,
                   deletes: dict[int, np.ndarray],
                   key: str = "deletes") -> "object":
    """Write the tombstone parquet + commit a snapshot that carries it
    (segments/stats unchanged — the delete is metadata-only, like a
    ``segments_N`` generation that only swaps .liv files)."""
    rel, count = write_tombstone_file(catalog, snap.snapshot_id + 1, deletes)
    extra = dict(snap.extra or {})
    extra[key] = rel
    extra["num_deleted" if key == "deletes" else "num_soft_deleted"] = count
    return catalog.commit(snap.segments, snap.field_stats,
                          snap.term_stats_path, extra=extra)


def write_tombstone_table(spark, catalog: SnapshotCatalog, gen: int,
                          deletes_df) -> tuple[str, int]:
    """Write a (seg_id, local_doc_id) DataFrame as the snapshot's
    tombstone table — a parquet DIRECTORY written by executors (tasks
    write their own files; the directory renames into place atomically),
    so no tombstone row ever routes through the driver. Rows are
    deduplicated (one shuffle on the tiny tombstone keys) and
    range-clustered by segment so a reader's per-segment slice is a
    contiguous row-group scan. Returns (relpath, row count)."""
    from pyspark.sql import functions as F

    del_dir = os.path.join(catalog.root, "deletes")
    os.makedirs(del_dir, exist_ok=True)
    tmp = os.path.join(del_dir, f"_tmp-{uuid.uuid4().hex}")
    final = os.path.join(del_dir, f"gen-{gen}-{uuid.uuid4().hex[:8]}")
    (deletes_df
     .select(F.col("seg_id").cast("int"),
             F.col("local_doc_id").cast("int"))
     .dropDuplicates(["seg_id", "local_doc_id"])
     .repartitionByRange(F.col("seg_id"), F.col("local_doc_id"))
     .sortWithinPartitions("seg_id", "local_doc_id")
     .write.mode("overwrite").parquet(tmp))
    count = int(spark.read.parquet(tmp).count())
    os.rename(tmp, final)
    return os.path.relpath(final, catalog.root), count


def carry_tombstones(spark, catalog: SnapshotCatalog, snap, extra: dict,
                     drop_seg_ids: list[int], next_gen: int,
                     key: str = "deletes", add_df=None) -> None:
    """Carry ``snap``'s tombstone table ``key`` into the next generation
    without the rows of ``drop_seg_ids`` and with ``add_df``'s rows
    (mutates ``extra`` in place) — filtered and rewritten on executors,
    so the driver never holds the delete set."""
    from pyspark.sql import functions as F

    parts = []
    rel_prev = (snap.extra or {}).get(key)
    if rel_prev:
        prev_path = rel_prev if os.path.isabs(rel_prev) \
            else os.path.join(catalog.root, rel_prev)
        parts.append(spark.read.parquet(prev_path)
                     .filter(~F.col("seg_id")
                             .isin([int(s) for s in drop_seg_ids])))
    if add_df is not None:
        parts.append(add_df)
    if not parts:
        return
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    rel, count = write_tombstone_table(spark, catalog, next_gen, df)
    count_key = "num_deleted" if key == "deletes" else "num_soft_deleted"
    if count:
        extra[key] = rel
        extra[count_key] = count
    else:
        shutil.rmtree(os.path.join(catalog.root, rel), ignore_errors=True)
        extra.pop(key, None)
        extra[count_key] = 0


def delete_by_term(spark, index_dir: str, term: str):
    """Mark every document containing ``term`` as deleted; returns the new
    Snapshot. Fully distributed: the postings scan is filtered to the
    single term (predicate pushdown — at most one row per segment),
    DECODED ON EXECUTORS (``mapInPandas``), unioned with the previous
    generation's tombstone table, deduplicated, and written back as the
    next tombstone table by the same executors
    (:func:`write_tombstone_table`) — the driver never materializes a
    single (seg, doc) pair, so deleting by a common term over a
    10^12-doc index stays a bounded-memory operation everywhere.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError(f"no snapshot in {index_dir}")
    paths = [os.path.join(catalog.segment_dir(s), "postings.parquet")
             for s in snap.seg_ids]

    def decode_ids(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                dec = decode_postings(row._asdict(), with_positions=False)
                yield pd.DataFrame({
                    "seg_id": np.full(len(dec["doc_ids"]), row.seg_id,
                                      dtype=np.int32),
                    "local_doc_id": dec["doc_ids"].astype(np.int32)})

    hits = (spark.read.parquet(*paths)
            .filter(F.col("term") == term)
            .mapInPandas(decode_ids, "seg_id int, local_doc_id int"))
    rel_prev = (snap.extra or {}).get("deletes")
    if rel_prev:
        prev_path = rel_prev if os.path.isabs(rel_prev) \
            else os.path.join(catalog.root, rel_prev)
        hits = hits.unionByName(
            spark.read.parquet(prev_path)
            .select(F.col("seg_id").cast("int"),
                    F.col("local_doc_id").cast("int")))
    gen = snap.snapshot_id + 1
    rel, count = write_tombstone_table(spark, catalog, gen, hits)
    extra = dict(snap.extra or {})
    extra["deletes"] = rel
    extra["num_deleted"] = count
    return catalog.commit(snap.segments, snap.field_stats,
                          snap.term_stats_path, extra=extra)


def delete_by_ids(spark, index_dir: str,
                  doc_ids: dict[int, np.ndarray]):
    """Tombstone explicit (seg_id → local ids); returns the new Snapshot."""
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError(f"no snapshot in {index_dir}")
    deletes = load_deletes(catalog, snap)
    for s, ids in doc_ids.items():
        prev = deletes.get(int(s), np.empty(0, np.int64))
        deletes[int(s)] = np.unique(
            np.concatenate((prev, np.asarray(ids, np.int64))))
    return _write_deletes(catalog, snap, deletes)


def locate_global_ids(catalog: SnapshotCatalog, snap,
                      global_ids, spark=None) -> dict[int, np.ndarray]:
    """Map global doc_ids → {seg_id: local ids}.

    With a SparkSession, every segment's global_doc_ids array is probed
    ON EXECUTORS (one norms row per segment, the wanted-id set shipped in
    the closure) and only the hits return — the driver never reads a
    segment blob, so the lookup scales to any segment count. Without
    Spark (tiny-index/test convenience) it falls back to a driver-side
    scan."""
    want = np.unique(np.asarray(list(global_ids), dtype=np.int64))
    out: dict[int, np.ndarray] = {}
    paths = [os.path.join(catalog.segment_dir(s), "norms.parquet")
             for s in snap.seg_ids]
    if spark is not None and paths:
        import pandas as pd_

        def probe(batches):
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    gids = np.frombuffer(row.global_doc_ids, dtype="<i8")
                    hit = np.nonzero(np.isin(gids, want))[0]
                    if len(hit):
                        yield pd_.DataFrame({
                            "seg_id": np.full(len(hit), row.seg_id,
                                              dtype=np.int32),
                            "local_doc_id": hit.astype(np.int64)})

        rows = (spark.read.parquet(*paths)
                .select("seg_id", "global_doc_ids")
                .mapInPandas(probe, "seg_id int, local_doc_id long")
                .collect())
        for r in rows:
            out.setdefault(int(r["seg_id"]), []).append(
                int(r["local_doc_id"]))
        return {s: np.unique(np.asarray(v, np.int64))
                for s, v in out.items()}
    for s in snap.seg_ids:
        npdf = pd.read_parquet(
            os.path.join(catalog.segment_dir(s), "norms.parquet"))
        gids = np.frombuffer(npdf.iloc[0]["global_doc_ids"], dtype="<i8")
        hit = np.nonzero(np.isin(gids, want))[0]
        if len(hit):
            out[int(s)] = hit.astype(np.int64)
    return out


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
    is a second tombstone table (``extra["soft_deletes"]``), which is the
    same reader-visible state the reference derives from the DV field."""
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError(f"no snapshot in {index_dir}")
    deletes = load_deletes(catalog, snap, key="soft_deletes")
    for s, ids in doc_ids.items():
        prev = deletes.get(int(s), np.empty(0, np.int64))
        deletes[int(s)] = np.unique(
            np.concatenate((prev, np.asarray(ids, np.int64))))
    return _write_deletes(catalog, snap, deletes, key="soft_deletes")


def soft_delete_by_term(spark, index_dir: str, term: str):
    """Soft-delete every document containing ``term``; returns the new
    Snapshot. Distributed exactly like :func:`delete_by_term` (postings
    row decoded on executors, tombstone table written by executors) —
    only the snapshot key differs."""
    import pandas as pd
    from pyspark.sql import functions as F
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError(f"no snapshot in {index_dir}")
    paths = [os.path.join(catalog.segment_dir(s), "postings.parquet")
             for s in snap.seg_ids]

    def decode_ids(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                dec = decode_postings(row._asdict(), with_positions=False)
                yield pd.DataFrame({
                    "seg_id": np.full(len(dec["doc_ids"]), row.seg_id,
                                      dtype=np.int32),
                    "local_doc_id": dec["doc_ids"].astype(np.int32)})

    hits = (spark.read.parquet(*paths)
            .filter(F.col("term") == term)
            .mapInPandas(decode_ids, "seg_id int, local_doc_id int"))
    rel_prev = (snap.extra or {}).get("soft_deletes")
    if rel_prev:
        prev_path = rel_prev if os.path.isabs(rel_prev) \
            else os.path.join(catalog.root, rel_prev)
        hits = hits.unionByName(
            spark.read.parquet(prev_path)
            .select(F.col("seg_id").cast("int"),
                    F.col("local_doc_id").cast("int")))
    gen = snap.snapshot_id + 1
    rel, count = write_tombstone_table(spark, catalog, gen, hits)
    extra = dict(snap.extra or {})
    extra["soft_deletes"] = rel
    extra["num_soft_deleted"] = count
    return catalog.commit(snap.segments, snap.field_stats,
                          snap.term_stats_path, extra=extra)


def soft_undelete_by_ids(spark, index_dir: str,
                         doc_ids: dict[int, np.ndarray]):
    """Revive soft-deleted docs (the reference revives by writing the
    soft-deletes DV field back to absent — ``IndexWriter.
    updateNumericDocValue`` on the soft-deletes field): remove the pairs
    from the soft tombstone table and commit. Docs never soft-deleted
    are ignored. Returns the new Snapshot."""
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError(f"no snapshot in {index_dir}")
    deletes = load_deletes(catalog, snap, key="soft_deletes")
    for s, ids in doc_ids.items():
        prev = deletes.get(int(s))
        if prev is None:
            continue
        keep = prev[~np.isin(prev, np.asarray(ids, np.int64))]
        if len(keep):
            deletes[int(s)] = keep
        else:
            deletes.pop(int(s))
    if not deletes:
        extra = dict(snap.extra or {})
        extra.pop("soft_deletes", None)
        extra["num_soft_deleted"] = 0
        return catalog.commit(snap.segments, snap.field_stats,
                              snap.term_stats_path, extra=extra)
    return _write_deletes(catalog, snap, deletes, key="soft_deletes")


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
    located = locate_global_ids(catalog, snap, ids, spark=spark)
    next_seg = max(snap.seg_ids) + 1 if snap.seg_ids else 0
    build_index(spark, df, index_dir, num_segments=1,
                seg_id_offset=next_seg, doc_id_col=doc_id_col,
                **build_kwargs)
    if located:
        return delete_by_ids(spark, index_dir, located)
    return SnapshotCatalog(index_dir).load()
