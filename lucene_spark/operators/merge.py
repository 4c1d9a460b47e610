"""Tiered segment merges: repartition + group-by-term re-encode.

The reference picks ~10-segment merges by size tier (``index/
TieredMergePolicy.java:85-91,295,371``: segsPerTier=10, maxMergeAtOnce=10)
and concatenates postings with docIDs remapped by docBase (``index/
SegmentMerger.java:103-140``, ``index/DocIDMerger.java:32``). Here a merge
is one Spark job: the selected segments' postings tables are unioned,
hash-repartitioned by term, and a vectorized kernel per term decodes the
≤K per-segment lists, offsets local docIDs by docBase, concatenates in
segment order and re-encodes (blocks + impacts rebuilt over the merged
norms). The merged segment commits as a new snapshot generation.

Skew at scale: the inputs to the term group-by are pre-aggregated —
at most one row per (term, source segment) — so a reducer group holds
≤ maxMergeAtOnce rows; *work* per group is ∝ merged df. The tiered policy
itself is the primary skew bound: merging 10 bounded segments bounds the
densest term's payload per merge (that is also why the reference discourages
forceMerge(1) on huge indexes). AQE skew-join split handles residual
imbalance; for token-level aggregations where a single key's inputs are NOT
pre-aggregated, see the explicitly salted path in ``operators/stats.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pandas as pd

from ..functions.codec import decode_postings, encode_postings_batch
from ..sources.catalog import SnapshotCatalog
from .build import POSTINGS_COLUMNS, compute_term_stats


#: Per-worker cache for merge-phase artifacts (merged norms array, remap
#: tables): every re-encode partition on a worker reuses one load. Keyed
#: by the tmp-segment file path (unique per merge), so entries from a
#: finished merge are dead weight — the cache holds only the latest few.
_MERGE_WORKER_CACHE: dict = {}


def _merge_cached(key, load):
    if key not in _MERGE_WORKER_CACHE:
        if len(_MERGE_WORKER_CACHE) > 6:
            _MERGE_WORKER_CACHE.clear()
        _MERGE_WORKER_CACHE[key] = load()
    return _MERGE_WORKER_CACHE[key]


def _remap_from_tombstones(tombs: dict, seg_nums: dict) -> dict:
    """(seg → old local id → compacted live id, -1 = purged) from the
    sparse tombstone arrays — O(num_docs) per segment, executor-side."""
    out = {}
    for s, num in seg_nums.items():
        live = np.ones(num, dtype=bool)
        dead = tombs.get(int(s))
        if dead is not None:
            live[dead[dead < num]] = False
        remap = np.full(num, -1, dtype=np.int64)
        remap[live] = np.arange(int(live.sum()), dtype=np.int64)
        out[int(s)] = remap
    return out


def _remap_from_table(path: str, seg_nums: dict) -> dict:
    """(seg → old local id → ABSOLUTE sorted new id, -1 = purged) from
    the phase-1 sort-remap parquet."""
    pdf = pd.read_parquet(path)
    out = {int(s): np.full(num, -1, dtype=np.int64)
           for s, num in seg_nums.items()}
    for s, g in pdf.groupby("seg_id"):
        out[int(s)][g["local_doc_id"].to_numpy(np.int64)] = \
            g["new_id"].to_numpy(np.int64)
    return out


def plan_merges(segments: list[dict], segs_per_tier: int = 10,
                max_merge_at_once: int = 10,
                max_merged_docs: int | None = 50_000_000) -> list[list[int]]:
    """Driver-side TieredMergePolicy-lite: while the segment count exceeds
    segs_per_tier, merge the ``max_merge_at_once`` smallest segments.

    ``max_merged_docs`` bounds the doc count of any single merge (the
    reference's maxMergedSegmentMB role, ``TieredMergePolicy.java:60``):
    the merged norms/global-id assembly (~9-17 bytes/doc) runs in ONE
    executor task (see the Phase-1 comment below, around line 190 — the
    driver holds only O(segments + tombstones) deltas), so an unbounded
    merge routes the whole merged doc axis through one executor's heap.
    The default cap keeps that task's peak at ~1 GB; ``None`` lifts it
    (opt-in, documented-discouraged at 10^12-doc scale)."""
    segs = sorted(segments, key=lambda s: (s["num_docs"], s["seg_id"]))
    merges = []
    while len(segs) > segs_per_tier:
        batch, docs = [], 0
        while segs and len(batch) < max_merge_at_once:
            nd = int(segs[0]["num_docs"])
            if batch and max_merged_docs and docs + nd > max_merged_docs:
                break
            batch.append(segs.pop(0))
            docs += nd
        if len(batch) < 2:
            break
        merges.append([s["seg_id"] for s in batch])
    return merges


def merge_segments(spark, index_dir: str, seg_ids: list[int],
                   new_seg_id: int | None = None, _commit_lock=None,
                   soft_retention: str | None = None):
    """Merge ``seg_ids`` into one new segment; returns the new Snapshot.

    ``_commit_lock`` (used by :func:`maintain` with ``max_concurrent>1``)
    serializes the commit section when several merges run as parallel
    Spark jobs from scheduler threads.

    ``soft_retention`` is the SoftDeletesRetentionMergePolicy role
    (reference ``index/SoftDeletesRetentionMergePolicy.java:51``): a SQL
    predicate over doc_meta columns; soft-deleted docs matching it are
    RETAINED through the merge — physically copied into the merged
    segment and re-tombstoned under its new doc ids (still masked from
    search) — while non-matching soft deletes are purged like hard ones.
    ``None`` (the reference's no-retention default) purges all soft
    deletes at merge. The predicate is evaluated as one Spark job over
    the merged segments' doc_meta (broadcast semi-join on the tombstone
    pairs); only the retained pair list routes through the driver,
    bounded by the soft-delete count of the segments being merged."""
    from pyspark.sql import functions as F

    from ..session import ensure_shipped
    ensure_shipped(spark)
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError("nothing to merge")
    from ..functions.codec import check_codec_version
    check_codec_version(snap)   # a v1 block would misdecode, not error
    missing = set(seg_ids) - set(snap.seg_ids)
    if missing:
        raise ValueError(f"segments not in snapshot: {missing}")
    seg_ids = sorted(seg_ids)
    if new_seg_id is None:
        new_seg_id = max(snap.seg_ids) + 1
    store_positions = bool(snap.extra.get("store_positions", True))
    has_payloads = bool(snap.extra.get("payloads", False))

    # live docs: merges physically purge tombstoned docs (SegmentMerger
    # drops deletes; docIDs compact per segment before docBase concat).
    # Only the MERGED segments' tombstones are read to the driver (pushed
    # seg_id filter) — other segments' tombstones stay in the table.
    from .delete import load_deletes
    seg_deletes = {s: v
                   for s, v in load_deletes(catalog, snap, seg_ids).items()
                   if len(v)}

    # soft deletes: purged at merge like hard ones UNLESS the retention
    # predicate keeps them (retained docs stay physical + masked)
    soft_dels = {s: v for s, v in
                 load_deletes(catalog, snap, seg_ids,
                              key="soft_deletes").items() if len(v)}
    retained: dict[int, np.ndarray] = {}
    if soft_dels:
        if soft_retention is not None:
            from pyspark.sql import functions as F2
            pairs = pd.DataFrame(
                [(int(s), int(d)) for s, v in soft_dels.items()
                 for d in v], columns=["seg_id", "local_doc_id"])
            meta0 = spark.read.parquet(
                *[os.path.join(catalog.segment_dir(s), "doc_meta.parquet")
                  for s in sorted(soft_dels)])
            kept_rows = (meta0.join(
                F2.broadcast(spark.createDataFrame(pairs)),
                on=["seg_id", "local_doc_id"], how="leftsemi")
                .filter(F2.expr(soft_retention))
                .select("seg_id", "local_doc_id").collect())
            for r in kept_rows:
                retained.setdefault(int(r["seg_id"]), []).append(
                    int(r["local_doc_id"]))
            retained = {s: np.unique(np.asarray(v, np.int64))
                        for s, v in retained.items()}
        for s, v in soft_dels.items():
            purge = v[~np.isin(v, retained.get(s, np.empty(0, np.int64)))]
            if len(purge):
                prev = seg_deletes.get(s, np.empty(0, np.int64))
                seg_deletes[s] = np.unique(
                    np.concatenate((prev, purge.astype(np.int64))))

    # docBase remap (DocIDMerger): concatenate in ascending seg_id order.
    # DRIVER holds only O(segments + tombstones) state — live counts come
    # from segment stats + the tombstone lengths; the per-doc work (norms
    # mask/concat, sort permutation) runs in ONE executor task below, and
    # the re-encode tasks rebuild remaps from the broadcast SPARSE
    # tombstones (or read the sort-remap table) instead of receiving
    # full per-doc arrays. At the 50M-doc merge cap the driver's delta
    # is KBs; the assembly task peaks at ~9-17 B/doc, executor-side.
    stats_by_seg = {s["seg_id"]: s for s in snap.segments}
    seg_nums = {s: int(stats_by_seg[s]["num_docs"]) for s in seg_ids}
    doc_bases: dict[int, int] = {}
    n_deleted_merged = 0
    base = 0
    for s in seg_ids:
        dead = seg_deletes.get(s)
        n_dead = int((dead < seg_nums[s]).sum()) if dead is not None else 0
        n_deleted_merged += n_dead
        doc_bases[s] = base
        base += seg_nums[s] - n_dead
    n_docs = base
    sort_info = (snap.extra or {}).get("index_sort")
    sorting = sort_info is not None
    has_deletes = bool(seg_deletes)
    bases = dict(doc_bases) if not sorting else {s: 0 for s in seg_ids}
    bc_tombs = spark.sparkContext.broadcast(
        {s: v.astype(np.int64) for s, v in seg_deletes.items()})

    tmp = os.path.join(index_dir, "segments",
                       f"_tmp-{new_seg_id}-{uuid.uuid4().hex}")
    os.makedirs(tmp, exist_ok=True)
    norms_path = os.path.join(tmp, "norms.parquet")
    remap_path = os.path.join(tmp, "remap.parquet") if sorting else None

    # Phase 1 — norms/gids assembly, one executor task (the only place
    # the whole merged doc axis is materialized): mask each segment's
    # norms by its tombstones, concatenate at the doc bases; under an
    # index sort (reference MergeState.needsIndexSort →
    # ``index/IndexSorter.java:44`` + the sorting DocIDMerger,
    # ``index/DocIDMerger.java:97``) also merge-sort by (key asc|desc,
    # global doc_id asc) — each input is already key-ordered — permute,
    # and write the (seg, old local) → ABSOLUTE new id table for the
    # re-encode/doc_meta phases. Files land in the tmp segment dir the
    # same way build tasks write theirs (shared index storage contract).
    seg_spec = pd.DataFrame({
        "seg_id": np.asarray(seg_ids, np.int32),
        "dir": [catalog.segment_dir(s) for s in seg_ids],
        "base": np.asarray([doc_bases[s] for s in seg_ids], np.int64),
    })
    field = sort_info["field"] if sorting else None
    s_asc = bool(sort_info["ascending"]) if sorting else True

    def assemble(batches):
        import pyarrow as pa_
        import pyarrow.parquet as pq_
        spec = pd.concat(list(batches), ignore_index=True) \
            .sort_values("seg_id")
        tombs = bc_tombs.value
        norm_parts, gid_parts, key_parts = [], [], []
        remap_rows = []
        for row in spec.itertuples(index=False):
            npdf = pd.read_parquet(os.path.join(row.dir, "norms.parquet"))
            num = int(npdf.iloc[0]["num_docs"])
            live = np.ones(num, dtype=bool)
            dead = tombs.get(int(row.seg_id))
            if dead is not None:
                live[dead[dead < num]] = False
            norm_parts.append(np.frombuffer(
                npdf.iloc[0]["norm_bytes"], dtype=np.uint8)[live])
            gid_parts.append(np.frombuffer(
                npdf.iloc[0]["global_doc_ids"], dtype="<i8")[live])
            if field is not None:
                kdf = pd.read_parquet(
                    os.path.join(row.dir, "doc_meta.parquet"),
                    columns=["local_doc_id", field]) \
                    .sort_values("local_doc_id")
                key_parts.append(kdf[field].reset_index(drop=True)[live])
                remap_rows.append((int(row.seg_id),
                                   np.nonzero(live)[0].astype(np.int32)))
        merged_norms = np.concatenate(norm_parts) if norm_parts \
            else np.empty(0, np.uint8)
        merged_gids = np.concatenate(gid_parts) if gid_parts \
            else np.empty(0, "<i8")
        if field is not None:
            keys_all = pd.concat(key_parts, ignore_index=True) \
                if key_parts else pd.Series([], dtype="float64")
            order = (pd.DataFrame({"k": keys_all, "g": merged_gids})
                     .sort_values(["k", "g"], ascending=[s_asc, True],
                                  kind="mergesort").index.to_numpy())
            inv = np.empty(len(order), dtype=np.int64)
            inv[order] = np.arange(len(order), dtype=np.int64)
            merged_norms = merged_norms[order]
            merged_gids = merged_gids[order]
            segs_col, olds_col, news_col = [], [], []
            off = 0
            for sid, old_ids in remap_rows:
                cnt = len(old_ids)
                segs_col.append(np.full(cnt, sid, np.int32))
                olds_col.append(old_ids)
                news_col.append(inv[off:off + cnt].astype(np.int32))
                off += cnt
            pq_.write_table(pa_.table({
                "seg_id": np.concatenate(segs_col) if segs_col
                else np.empty(0, np.int32),
                "local_doc_id": np.concatenate(olds_col) if olds_col
                else np.empty(0, np.int32),
                "new_id": np.concatenate(news_col) if news_col
                else np.empty(0, np.int32)}), remap_path)
        pq_.write_table(pa_.table({
            "seg_id": pa_.array([new_seg_id], pa_.int32()),
            "num_docs": pa_.array([len(merged_norms)], pa_.int64()),
            "norm_bytes": pa_.array([merged_norms.tobytes()],
                                    pa_.binary()),
            "global_doc_ids": pa_.array([merged_gids.tobytes()],
                                        pa_.binary()),
        }), norms_path)
        yield pd.DataFrame({"n_docs": [len(merged_norms)]})

    got = (spark.createDataFrame(seg_spec).repartition(1)
           .mapInPandas(assemble, "n_docs long").collect())
    if int(got[0]["n_docs"]) != n_docs:
        raise RuntimeError(
            f"norms assembly produced {got[0]['n_docs']} docs, "
            f"stats+tombstones imply {n_docs}")

    # retained soft deletes follow their docs to the new ids
    new_soft: pd.DataFrame | None = None
    if retained:
        if sorting:
            pairs = pd.DataFrame(
                [(int(s), int(d)) for s, v in sorted(retained.items())
                 for d in v], columns=["seg_id", "local_doc_id"])
            hit = (spark.read.parquet(remap_path)
                   .join(F.broadcast(spark.createDataFrame(pairs)),
                         on=["seg_id", "local_doc_id"], how="leftsemi")
                   .select("new_id").collect())
            new_ids = np.asarray([r["new_id"] for r in hit], np.int32)
        else:
            # compacted id = old - (#purged tombstones below it) + base;
            # retained docs are live, so never tombstoned themselves
            parts = []
            for s, v in sorted(retained.items()):
                dead = seg_deletes.get(s, np.empty(0, np.int64))
                parts.append(doc_bases[s] + v
                             - np.searchsorted(dead, v, side="left"))
            new_ids = np.concatenate(parts).astype(np.int32)
        new_soft = pd.DataFrame({"seg_id": np.int32(new_seg_id),
                                 "local_doc_id": new_ids})

    def reencode_partition(batches):
        """One call per term-hash partition: decode every (term, segment)
        row, concatenate per term in segment order with docBase offsets,
        then re-encode ALL the partition's terms in one batched pass
        (``encode_postings_batch``) — the per-term Python/Arrow overhead of
        a term-keyed cogroup would dominate a merge otherwise."""
        out_cols = POSTINGS_COLUMNS + (["pay_bytes"] if has_payloads
                                       else [])
        batches = list(batches)
        if not batches:
            # repartition(col) can leave empty partitions when
            # shuffle.partitions > distinct terms and AQE coalescing is off
            yield pd.DataFrame(columns=out_cols)
            return
        pdf = pd.concat(batches, ignore_index=True)
        if len(pdf) == 0:
            yield pd.DataFrame(columns=out_cols)
            return
        pdf = pdf.sort_values(["term", "seg_id"], kind="mergesort")
        # merged norms read from the phase-1 file (worker-cached): a
        # 50M-doc merge ships 50 MB once per executor instead of a
        # driver-built broadcast; remaps rebuilt from the SPARSE
        # tombstone broadcast (or the sort-remap table) on demand
        norms = _merge_cached(
            norms_path, lambda: np.frombuffer(
                pd.read_parquet(norms_path).iloc[0]["norm_bytes"],
                dtype=np.uint8))
        if sorting:
            rmaps = _merge_cached(
                remap_path,
                lambda: _remap_from_table(remap_path, seg_nums))
        elif has_deletes:
            rmaps = _merge_cached(
                ("tombs", norms_path),
                lambda: _remap_from_tombstones(bc_tombs.value, seg_nums))
        else:
            rmaps = None
        ids_parts, tf_parts, pos_parts, pay_parts = [], [], [], []
        row_lens = np.empty(len(pdf), dtype=np.int64)
        tok_lens = np.empty(len(pdf), dtype=np.int64)
        term_of_row = pdf["term"].to_numpy()
        for i, row in enumerate(pdf.itertuples(index=False)):
            dec = decode_postings(row._asdict(),
                                  with_positions=store_positions)
            ids, tfs = dec["doc_ids"], dec["tfs"]
            pos = dec.get("positions", np.empty(0, np.int64)) \
                if store_positions else None
            pay = np.frombuffer(row.pay_bytes, dtype="<f4") \
                if has_payloads else None
            if rmaps is not None:
                newids = rmaps[int(row.seg_id)][ids]
                keep = newids >= 0
                if not keep.all():
                    tok_keep = np.repeat(keep, tfs)
                    if store_positions:
                        pos = pos[tok_keep]
                    if pay is not None:
                        pay = pay[tok_keep]
                    ids, tfs = newids[keep], tfs[keep]
                else:
                    ids = newids
            ids_parts.append(ids + bases[int(row.seg_id)])
            tf_parts.append(tfs)
            row_lens[i] = len(ids)
            tok_lens[i] = int(tfs.sum())
            if store_positions:
                pos_parts.append(pos)
            if pay is not None:
                pay_parts.append(pay)
        ids = np.concatenate(ids_parts)
        tfs = np.concatenate(tf_parts)
        pos = np.concatenate(pos_parts) if store_positions else None
        pay = np.concatenate(pay_parts) if has_payloads else None
        # term boundaries in posting space (post-purge lengths; terms whose
        # every posting was deleted are dropped entirely)
        new_term = np.empty(len(pdf), dtype=bool)
        new_term[0] = True
        new_term[1:] = term_of_row[1:] != term_of_row[:-1]
        term_ids = np.cumsum(new_term) - 1
        if sorting and len(ids):
            # sorting merge: remapped ids follow the index sort key, so a
            # term's postings from different segments INTERLEAVE — restore
            # the strictly-ascending-per-term codec invariant with one
            # lexsort, gathering the token-level streams (positions,
            # payloads) along via the repeat-offset trick (the sorting
            # DocIDMerger's priority-queue role, vectorized)
            row_ids = np.repeat(np.arange(len(pdf)), row_lens)
            post_term = term_ids[row_ids]
            ord_ = np.lexsort((ids, post_term))
            if store_positions or has_payloads:
                tok_starts = np.concatenate(
                    ([0], np.cumsum(tfs)))[:-1]
                new_tok_starts = np.concatenate(
                    ([0], np.cumsum(tfs[ord_])))[:-1]
                gather = (np.repeat(tok_starts[ord_] - new_tok_starts,
                                    tfs[ord_])
                          + np.arange(int(tfs.sum()), dtype=np.int64))
                if store_positions:
                    pos = pos[gather]
                if pay is not None:
                    pay = pay[gather]
            ids, tfs = ids[ord_], tfs[ord_]
        term_tot = np.bincount(term_ids, weights=row_lens).astype(np.int64)
        term_row_starts = np.nonzero(new_term)[0]
        alive = term_tot > 0
        term_off = np.concatenate(([0], np.cumsum(term_tot[alive])))
        if len(ids) == 0:
            yield pd.DataFrame(columns=out_cols)
            return
        enc = encode_postings_batch(ids, tfs, pos, norms, term_off)
        if has_payloads:
            tok_tot = np.bincount(term_ids,
                                  weights=tok_lens).astype(np.int64)
            tok_off = np.concatenate(([0], np.cumsum(tok_tot[alive])))
            pay_bytes = [pay[tok_off[i]:tok_off[i + 1]]
                         .astype("<f4").tobytes()
                         for i in range(len(tok_off) - 1)]
        yield pd.DataFrame({
            "term": term_of_row[term_row_starts][alive],
            "seg_id": np.int32(new_seg_id),
            "df": enc["df"].astype(np.int64),
            "ttf": enc["ttf"].astype(np.int64),
            "doc_bytes": enc["doc_bytes"],
            "tf_bytes": enc["tf_bytes"],
            "pos_bytes": enc["pos_bytes"],
            "block_last": enc["block_last"],
            "impact_bytes": enc["impact_bytes"],
            **({"pay_bytes": pay_bytes} if has_payloads else {}),
        }, columns=out_cols)

    postings_schema = ("term string, seg_id int, df int, ttf long, "
                       "doc_bytes binary, tf_bytes binary, pos_bytes binary, "
                       "block_last binary, impact_bytes binary"
                       + (", pay_bytes binary" if has_payloads else ""))
    union = spark.read.parquet(
        *[os.path.join(catalog.segment_dir(s), "postings.parquet") for s in seg_ids])
    # RANGE partition by term (not hash): co-locates each term's ≤K
    # per-segment rows like hash would, but partition index follows term
    # order, so the multi-file parquet output reads back globally
    # term-sorted (the BlockTree range-bucketed dictionary invariant that
    # CheckIndex asserts and file-level min/max pruning relies on)
    merged_postings = (union.repartitionByRange(F.col("term"))
                       .mapInPandas(reencode_partition, postings_schema))
    merged_postings.write.mode("overwrite").parquet(os.path.join(tmp, "postings.parquet"))

    # doc_meta: remap seg_id/local_doc_id (deleted docs dropped via the
    # inner join on the live remap table when tombstones exist)
    metas = spark.read.parquet(
        *[os.path.join(catalog.segment_dir(s), "doc_meta.parquet") for s in seg_ids])
    # numeric DocValues updates BAKE at merge (SegmentMerger reads the
    # updated reader view): overlay values overwrite the base columns
    # before the remap, so the merged segment needs no overlay rows
    from .docvalues import bake_updates
    metas = bake_updates(spark, catalog, snap, metas, seg_ids)
    if sorting:
        # the phase-1 remap table carries the absolute sorted ids; a
        # plain (non-broadcast) join keeps the 50M-row table off every
        # executor's heap at once
        remap_sdf = (spark.read.parquet(remap_path)
                     .withColumnRenamed("new_id", "_new_id"))
        remapped = (metas.join(remap_sdf,
                               on=["seg_id", "local_doc_id"], how="inner")
                    .withColumn("local_doc_id", F.col("_new_id"))
                    .drop("_new_id")
                    .withColumn("seg_id", F.lit(new_seg_id).cast("int")))
    elif has_deletes:
        # compacted id = base + old - (#tombstones below old), computed
        # per Arrow batch from the sparse tombstone broadcast — no
        # per-doc remap table anywhere
        meta_schema = metas.schema

        def remap_meta(batches):
            tombs = bc_tombs.value
            for mpdf in batches:
                segs = mpdf["seg_id"].to_numpy()
                olds = mpdf["local_doc_id"].to_numpy(np.int64)
                keep = np.ones(len(mpdf), dtype=bool)
                new = olds.copy()
                for s in np.unique(segs):
                    m = segs == s
                    dead = tombs.get(int(s))
                    off = bases[int(s)]
                    if dead is None:
                        new[m] = olds[m] + off
                        continue
                    keep[m] &= ~np.isin(olds[m], dead)
                    new[m] = (olds[m] + off
                              - np.searchsorted(dead, olds[m], "left"))
                out = mpdf[keep].copy()
                out["local_doc_id"] = new[keep].astype(np.int32)
                out["seg_id"] = np.int32(new_seg_id)
                yield out

        remapped = metas.mapInPandas(remap_meta, meta_schema)
    else:
        base_map = F.create_map(*[F.lit(x) for kv in bases.items() for x in kv])
        remapped = (metas
                    .withColumn("local_doc_id",
                                (base_map[F.col("seg_id")] + F.col("local_doc_id"))
                                .cast("int"))
                    .withColumn("seg_id", F.lit(new_seg_id).cast("int")))
    # range-clustered multi-file write: a 50M-doc merge's doc_meta no
    # longer funnels through one task (the old coalesce(1)); readers
    # treat the directory exactly like the single-file layout
    (remapped.repartitionByRange(F.col("local_doc_id"))
     .sortWithinPartitions("local_doc_id")
     .write.mode("overwrite").parquet(os.path.join(tmp, "doc_meta.parquet")))
    if remap_path is not None:
        os.unlink(remap_path)   # phase-internal; not part of the segment

    stats_pdf = spark.read.parquet(os.path.join(tmp, "postings.parquet")) \
        .agg(F.count("*").alias("num_terms"), F.sum("df").alias("num_postings"),
             F.sum("ttf").alias("sum_ttf"),
             F.sum(F.octet_length("doc_bytes") + F.octet_length("tf_bytes")
                   + F.octet_length("pos_bytes") + F.octet_length("block_last")
                   + F.octet_length("impact_bytes")).alias("bytes")).collect()[0]
    old = {s["seg_id"]: s for s in snap.segments}
    old_sum_doc_len = int(sum(old[s]["sum_doc_len"] for s in seg_ids))
    if has_deletes:
        # exact post-purge length sum from the surviving doc_meta rows
        new_sum_doc_len = int(
            spark.read.parquet(os.path.join(tmp, "doc_meta.parquet"))
            .agg(F.sum("doc_len")).collect()[0][0] or 0)
    else:
        new_sum_doc_len = old_sum_doc_len
    stats = {
        "seg_id": int(new_seg_id),
        "num_docs": int(n_docs),
        "num_terms": int(stats_pdf["num_terms"] or 0),
        "num_postings": int(stats_pdf["num_postings"] or 0),
        "sum_doc_len": new_sum_doc_len,
        # exact token count of the merged postings (Σ ttf) — the
        # sumTotalTermFreq basis; equals sum_doc_len unless index-time
        # synonym overlaps were discounted from norms
        "sum_token_len": int(stats_pdf["sum_ttf"] or 0),
        "bytes_compressed": int(stats_pdf["bytes"] or 0),
        "build_partition": -1,
        "origin": "merge",
        "merged_from": seg_ids,
        "status": "built",
    }
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f)
    seg_dir = catalog.segment_dir(new_seg_id)
    try:
        os.rename(tmp, seg_dir)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        raise

    return _commit_merge(spark, catalog, index_dir, seg_ids, stats,
                         lock=_commit_lock, new_soft=new_soft)


def _commit_merge(spark, catalog, index_dir: str, seg_ids: list[int],
                  stats: dict, lock=None,
                  new_soft: "pd.DataFrame | None" = None):
    """Publish a built merged segment: swap ``seg_ids`` for the new
    segment in the CURRENT snapshot and commit one generation.

    The snapshot is RE-LOADED here (under ``lock`` when merges run
    concurrently) rather than reusing the one pinned at merge start —
    the commit-time view may already contain other merges' results
    (ConcurrentMergeScheduler's model: merge work is concurrent, commits
    serialize under IndexWriter's lock; reference
    ``index/ConcurrentMergeScheduler.java:64``,
    ``index/IndexWriter.java:3849``). Safe because concurrent merges
    operate on DISJOINT segment sets (plan_merges pops segments), so
    each swap is independent of commit order."""
    import contextlib

    with (lock if lock is not None else contextlib.nullcontext()):
        snap = catalog.load()
        new_segments = [s for s in snap.segments
                        if s["seg_id"] not in set(seg_ids)]
        new_segments.append(stats)
        new_segments.sort(key=lambda s: s["seg_id"])
        next_id = snap.snapshot_id + 1
        ts_path = compute_term_stats(
            spark, catalog, [s["seg_id"] for s in new_segments],
            os.path.join(index_dir, "term_stats", f"gen-{next_id}"))
        # purged deletes leave the tombstone set and the collection stats
        # recompute EXACTLY from the surviving segments' lineage (Lucene
        # rebuilds docCount/sumTotalTermFreq from segment metadata once
        # merges drop docs) — the merged segment's token count comes from
        # its own postings (Σ ttf), so synonym-overlap indexes stay exact
        field_stats = dict(snap.field_stats)
        extra = dict(snap.extra or {})
        # index_sort SURVIVES the merge: the permutation above ordered
        # the merged segment by the key (sorting merge, MergeState/
        # IndexSorter), so sorted_top_k keeps early-terminating across
        # generations
        field_stats["doc_count"] = int(sum(s2["num_docs"]
                                           for s2 in new_segments))
        field_stats["sum_total_term_freq"] = int(sum(
            s2.get("sum_token_len", s2["sum_doc_len"])
            for s2 in new_segments))
        # carry the surviving tombstones forward DISTRIBUTED: the driver
        # never holds the full delete set (it only read the merged
        # segments' slice). Soft tombstones add the retention-retained
        # pairs re-tombstoned under the merged segment's id (purged soft
        # deletes simply drop out of the table here)
        from .delete import carry_tombstones
        carry_tombstones(spark, catalog, snap, extra, seg_ids, next_id)
        carry_tombstones(spark, catalog, snap, extra, seg_ids, next_id,
                         key="soft_deletes",
                         add_df=(spark.createDataFrame(new_soft)
                                 if new_soft is not None and len(new_soft)
                                 else None))
        # DocValues-update overlay: merged segments' rows were baked into
        # the merged doc_meta; surviving segments' rows carry forward
        # (distributed filter-and-rewrite, like the tombstones above).
        # A dv update committed between merge start and this commit is
        # carried for surviving segments but lost for the merged ones —
        # updates and merges of the same segments serialize in practice
        # (same commit lock); documented limitation of the async path.
        if (snap.extra or {}).get("dv_updates"):
            from .docvalues import carry_updates
            carry_updates(spark, catalog, snap, extra, seg_ids, next_id)
        return catalog.commit(new_segments, field_stats, ts_path,
                              extra=extra)


def add_indexes(spark, dest_dir: str, src_dir: str):
    """IndexWriter.addIndexes(Directory...) analogue
    (``index/IndexWriter.java:2594``): bulk-import every segment of a
    foreign index without re-indexing — segment files are copied with
    renumbered seg ids, global stats recomputed over the union, one
    atomic snapshot commit. Global doc_ids must be disjoint between the
    two indexes (caller's contract, like the reference's requirement that
    imported readers contain no duplicates); CheckIndex verifies.

    Driver-side copy + seg_id column rewrite per segment: the reference's
    addIndexes is likewise a file-level copy, not a merge.
    """
    import pyarrow.parquet as pq

    dest = SnapshotCatalog(dest_dir)
    src = SnapshotCatalog(src_dir)
    dsnap, ssnap = dest.load(), src.load()
    if dsnap is None or ssnap is None:
        raise ValueError("both indexes need a committed snapshot")
    if bool(dsnap.extra.get("store_positions", True)) != \
            bool(ssnap.extra.get("store_positions", True)):
        raise ValueError("store_positions mismatch between indexes")
    next_id = max(dsnap.seg_ids) + 1 if dsnap.seg_ids else 0
    new_segments = list(dsnap.segments)
    src_lineage = {s["seg_id"]: s for s in ssnap.segments}
    id_map: dict[int, int] = {}
    for old_id in ssnap.seg_ids:
        new_id = next_id
        id_map[old_id] = new_id
        next_id += 1
        sdir = src.segment_dir(old_id)
        tmp = os.path.join(dest_dir, "segments",
                           f"_tmp-{new_id}-{uuid.uuid4().hex}")
        os.makedirs(tmp, exist_ok=True)
        for fname in ("postings.parquet", "doc_meta.parquet",
                      "norms.parquet"):
            import pyarrow as pa
            tbl = pq.read_table(os.path.join(sdir, fname))
            if "seg_id" in tbl.column_names:
                i = tbl.column_names.index("seg_id")
                tbl = tbl.set_column(
                    i, tbl.field(i),
                    pa.array(np.full(len(tbl), new_id, dtype=np.int32),
                             type=tbl.field(i).type))
            pq.write_table(tbl, os.path.join(tmp, fname))
        stats = dict(src_lineage[old_id])
        stats["seg_id"] = int(new_id)
        stats["origin"] = "addIndexes"
        stats["imported_from"] = os.path.abspath(src_dir)
        with open(os.path.join(tmp, "stats.json"), "w") as f:
            json.dump(stats, f)
        os.rename(tmp, dest.segment_dir(new_id))
        new_segments.append(stats)
    new_segments.sort(key=lambda s: s["seg_id"])
    gen = dsnap.snapshot_id + 1
    ts_path = compute_term_stats(
        spark, dest, [s["seg_id"] for s in new_segments],
        os.path.join(dest_dir, "term_stats", f"gen-{gen}"))
    field_stats = {
        "doc_count": int(dsnap.field_stats["doc_count"])
        + int(ssnap.field_stats["doc_count"]),
        "sum_total_term_freq": int(dsnap.field_stats["sum_total_term_freq"])
        + int(ssnap.field_stats["sum_total_term_freq"]),
    }
    # preserve the source's live-docs: the reference's addIndexes(Directory)
    # copies segments as-is INCLUDING their .liv files
    # (IndexWriter.copySegmentAsIs), so imported tombstones must survive
    # with seg ids remapped and union into the destination's delete set.
    from .delete import load_deletes, write_tombstone_file
    merged_deletes = load_deletes(dest, dsnap)
    for old_id, ids in load_deletes(src, ssnap).items():
        if old_id in id_map and len(ids):
            merged_deletes[id_map[old_id]] = ids
    extra = dict(dsnap.extra or {})
    if (dsnap.extra or {}).get("index_sort") != \
            (ssnap.extra or {}).get("index_sort"):
        extra.pop("index_sort", None)   # mixed ordering: no early termination
    if merged_deletes:
        rel, count = write_tombstone_file(dest, gen, merged_deletes)
        extra["deletes"] = rel
        extra["num_deleted"] = count
    # soft tombstones import identically (they are .liv-equivalent state
    # for readers; only merge-time retention distinguishes them)
    merged_soft = load_deletes(dest, dsnap, key="soft_deletes")
    for old_id, ids in load_deletes(src, ssnap,
                                    key="soft_deletes").items():
        if old_id in id_map and len(ids):
            merged_soft[id_map[old_id]] = ids
    if merged_soft:
        rel, count = write_tombstone_file(dest, gen, merged_soft)
        extra["soft_deletes"] = rel
        extra["num_soft_deleted"] = count
    return dest.commit(new_segments, field_stats, ts_path, extra=extra)


def split_index(spark, src_dir: str, dest_dir: str,
                seg_ids: list[int]):
    """IndexSplitter role (reference
    ``misc/src/java/org/apache/lucene/misc/index/IndexSplitter.java``):
    carve a standalone index out of ``src_dir`` containing exactly
    ``seg_ids`` — a file-level segment copy (like the reference's
    SegmentInfos manipulation, no re-indexing), with global collection
    stats recomputed over the kept segments, tombstones and
    docvalues-update overlays sliced to the kept segments, and one
    atomic snapshot commit in the new directory. The inverse of
    :func:`add_indexes`; the source index is left untouched.

    Scale note: segment payloads are copied file-by-file (no decode);
    only term_stats is recomputed, as one Spark aggregation over the
    kept segments' postings."""
    src = SnapshotCatalog(src_dir)
    snap = src.load()
    if snap is None:
        raise ValueError(f"no snapshot in {src_dir}")
    want = sorted(set(int(s) for s in seg_ids))
    missing = [s for s in want if s not in snap.seg_ids]
    if missing:
        raise ValueError(f"segments {missing} not in snapshot "
                         f"(has {snap.seg_ids})")
    dest = SnapshotCatalog(dest_dir)
    if dest.load() is not None:
        raise ValueError(f"{dest_dir} already holds an index")
    lineage = {s["seg_id"]: s for s in snap.segments}
    kept = []
    for sid in want:
        sdir = src.segment_dir(sid)
        tmp = os.path.join(dest_dir, "segments",
                           f"_tmp-{sid}-{uuid.uuid4().hex}")
        shutil.copytree(sdir, tmp)
        os.rename(tmp, dest.segment_dir(sid))
        stats = dict(lineage[sid])
        stats["origin"] = "split"
        stats["split_from"] = os.path.abspath(src_dir)
        kept.append(stats)
    field_stats = {
        "doc_count": int(sum(s["num_docs"] for s in kept)),
        "sum_total_term_freq": int(sum(
            s.get("sum_token_len", s["sum_doc_len"]) for s in kept)),
    }
    ts_path = compute_term_stats(
        spark, dest, want, os.path.join(dest_dir, "term_stats", "gen-1"))
    extra = {k: v for k, v in (snap.extra or {}).items()
             if k in ("store_positions", "codec_version", "payloads",
                      "index_sort", "doc_id_col")}
    extra["num_segments"] = len(want)
    # slice live-docs to the kept segments (IndexSplitter copies .liv)
    from .delete import load_deletes, write_tombstone_file
    dels = load_deletes(src, snap, seg_ids=want)
    if dels:
        rel, count = write_tombstone_file(dest, 1, dels)
        extra["deletes"] = rel
        extra["num_deleted"] = count
    soft = load_deletes(src, snap, seg_ids=want, key="soft_deletes")
    if soft:
        rel, count = write_tombstone_file(dest, 1, soft)
        extra["soft_deletes"] = rel
        extra["num_soft_deleted"] = count
    # slice docvalues-update overlays the same way
    from .docvalues import _overlay_path
    opath = _overlay_path(src, snap)
    if opath is not None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        opdf = pd.read_parquet(
            opath, filters=[("seg_id", "in", want)])
        if len(opdf):
            dv_dir = os.path.join(dest_dir, "dv_updates")
            os.makedirs(dv_dir, exist_ok=True)
            out = os.path.join(dv_dir, f"gen-1-{uuid.uuid4().hex[:8]}")
            os.makedirs(out, exist_ok=True)
            pq.write_table(pa.Table.from_pandas(opdf,
                                                preserve_index=False),
                           os.path.join(out, "part-0.parquet"))
            extra["dv_updates"] = os.path.relpath(out, dest_dir)
            extra["num_dv_updates"] = int(len(opdf))
    return dest.commit(kept, field_stats, ts_path, extra=extra)


def multi_pass_split(spark, src_dir: str, out_dirs: list[str]):
    """MultiPassIndexSplitter role (reference
    ``misc/src/java/org/apache/lucene/misc/index/
    MultiPassIndexSplitter.java``): split an index into N parts by
    round-robin global doc_id — each part is a full segment copy with
    every document NOT in its share marked DELETED, exactly the
    reference's "marks documents as deleted" strategy (no re-indexing;
    stats stay stale until a merge purges, like any tombstone).

    The complement tombstones are computed DISTRIBUTED from each part's
    doc_meta scan (pushed pmod filter) and written by executors through
    the shared tombstone-table path — the driver never holds a doc id.
    Returns the list of committed Snapshots."""
    from pyspark.sql import functions as F

    from .delete import write_tombstone_table
    src = SnapshotCatalog(src_dir)
    snap = src.load()
    if snap is None:
        raise ValueError(f"no snapshot in {src_dir}")
    n = len(out_dirs)
    if n < 2:
        raise ValueError("need at least 2 output dirs")
    snaps = []
    for i, out in enumerate(out_dirs):
        part = split_index(spark, src_dir, out, snap.seg_ids)
        cat = SnapshotCatalog(out)
        reader_meta = spark.read.parquet(
            *[os.path.join(cat.segment_dir(sid), "doc_meta.parquet")
              for sid in part.seg_ids])
        complement = (reader_meta
                      .where(F.pmod(F.col("doc_id"), F.lit(n)) != i)
                      .select(F.col("seg_id").cast("int"),
                              F.col("local_doc_id").cast("int")))
        rel_prev = (part.extra or {}).get("deletes")
        if rel_prev:
            prev = rel_prev if os.path.isabs(rel_prev)                 else os.path.join(out, rel_prev)
            complement = complement.unionByName(
                spark.read.parquet(prev)
                .select(F.col("seg_id").cast("int"),
                        F.col("local_doc_id").cast("int")))
        gen = part.snapshot_id + 1
        rel, count = write_tombstone_table(spark, cat, gen, complement)
        extra = dict(part.extra or {})
        extra["deletes"] = rel
        extra["num_deleted"] = count
        snaps.append(cat.commit(part.segments, part.field_stats,
                                part.term_stats_path, extra=extra))
    return snaps


def pk_split(spark, src_dir: str, out_match_dir: str, out_rest_dir: str,
             query):
    """PKIndexSplitter role (reference
    ``misc/src/java/org/apache/lucene/misc/index/PKIndexSplitter.java:
    41-118``): split one index into two by a query — documents matching
    ``query`` land in the first index, the rest in the second. Uses the
    same deletion strategy as :func:`multi_pass_split` (full segment
    copies with the complement tombstoned) rather than the reference's
    addIndexes(FilterCodecReader) rewrite — search-equivalent, no
    re-indexing, and a later merge purges physically.

    The match set is computed ONCE distributed (the engine's own query
    kernel over live docs) and each part's complement tombstones are a
    doc_meta scan anti/semi-joined against it — the driver never holds a
    doc id. Returns (matching_snapshot, rest_snapshot)."""
    from pyspark.sql import functions as F

    from .delete import write_tombstone_table
    from .search import Searcher

    src = SnapshotCatalog(src_dir)
    snap = src.load()
    if snap is None:
        raise ValueError(f"no snapshot in {src_dir}")
    matches = (Searcher(spark, src_dir).score_all(query)
               .select("doc_id").distinct())
    snaps = []
    for out, how in ((out_match_dir, "left_anti"),
                     (out_rest_dir, "left_semi")):
        part = split_index(spark, src_dir, out, snap.seg_ids)
        cat = SnapshotCatalog(out)
        meta = spark.read.parquet(
            *[os.path.join(cat.segment_dir(sid), "doc_meta.parquet")
              for sid in part.seg_ids])
        complement = (meta.join(matches, "doc_id", how)
                      .select(F.col("seg_id").cast("int"),
                              F.col("local_doc_id").cast("int")))
        rel_prev = (part.extra or {}).get("deletes")
        if rel_prev:
            prev = (rel_prev if os.path.isabs(rel_prev)
                    else os.path.join(out, rel_prev))
            complement = complement.unionByName(
                spark.read.parquet(prev)
                .select(F.col("seg_id").cast("int"),
                        F.col("local_doc_id").cast("int"))).distinct()
        gen = part.snapshot_id + 1
        rel, count = write_tombstone_table(spark, cat, gen, complement)
        extra = dict(part.extra or {})
        extra["deletes"] = rel
        extra["num_deleted"] = count
        snaps.append(cat.commit(part.segments, part.field_stats,
                                part.term_stats_path, extra=extra))
    return tuple(snaps)


def rearrange_index(spark, src_dir: str, dest_dir: str, selectors):
    """IndexRearranger role (reference
    ``misc/src/java/org/apache/lucene/misc/index/IndexRearranger.java:
    47-120``): produce an index whose segments contain EXACTLY the docs
    each selector picks, one output segment per selector (the
    reference's DocumentSelector-per-segment contract). Composition of
    existing machinery: per selector, a file-level copy with the
    complement tombstoned (:func:`split_index` + tombstones, the
    PKIndexSplitter strategy), force-merged to ONE physical segment
    (purges the tombstones and bakes real stats), then
    :func:`add_indexes` stitches the parts into ``dest_dir`` in selector
    order. A selector is an engine query node (matched via the query
    kernel) or any DataFrame carrying a ``doc_id`` column (the
    reference's arbitrary-BitSet DocumentSelector); every source doc
    should be selected by exactly one selector (the reference asserts
    the same).

    Scale: each part's re-encode is the normal distributed merge; parts
    are independent jobs."""
    import tempfile

    from pyspark.sql import functions as F  # noqa: F401

    from .search import Searcher

    src = SnapshotCatalog(src_dir)
    snap = src.load()
    if snap is None:
        raise ValueError(f"no snapshot in {src_dir}")
    dest = SnapshotCatalog(dest_dir)
    if dest.load() is not None:
        raise ValueError(f"{dest_dir} already holds an index")
    from .delete import write_tombstone_table
    searcher = Searcher(spark, src_dir)
    parts = []
    for sel in selectors:
        out = tempfile.mkdtemp(prefix="lucene_spark_rearrange_")
        shutil.rmtree(out)
        part = split_index(spark, src_dir, out, snap.seg_ids)
        cat = SnapshotCatalog(out)
        if hasattr(sel, "columns"):          # DataFrame selector
            matches = sel.select("doc_id").distinct()
        else:                                # query-node selector
            matches = searcher.score_all(sel).select("doc_id").distinct()
        meta = spark.read.parquet(
            *[os.path.join(cat.segment_dir(sid), "doc_meta.parquet")
              for sid in part.seg_ids])
        complement = (meta.join(matches, "doc_id", "left_anti")
                      .select(F.col("seg_id").cast("int"),
                              F.col("local_doc_id").cast("int")))
        rel_prev = (part.extra or {}).get("deletes")
        if rel_prev:
            prev = (rel_prev if os.path.isabs(rel_prev)
                    else os.path.join(out, rel_prev))
            complement = complement.unionByName(
                spark.read.parquet(prev)
                .select(F.col("seg_id").cast("int"),
                        F.col("local_doc_id").cast("int"))).distinct()
        gen = part.snapshot_id + 1
        rel, count = write_tombstone_table(spark, cat, gen, complement)
        extra = dict(part.extra or {})
        extra["deletes"] = rel
        extra["num_deleted"] = count
        cat.commit(part.segments, part.field_stats,
                   part.term_stats_path, extra=extra)
        force_merge(spark, out, max_segments=1, max_merged_docs=None)
        parts.append(out)
    first, rest = parts[0], parts[1:]
    # seed dest with the first part's segments, then append the others
    # (SnapshotCatalog(dest_dir) above already created the empty root)
    shutil.copytree(first, dest_dir, dirs_exist_ok=True)
    result = SnapshotCatalog(dest_dir).load()
    for p in rest:
        result = add_indexes(spark, dest_dir, p)
    for p in parts:
        shutil.rmtree(p, ignore_errors=True)
    return result


def maintain(spark, index_dir: str, segs_per_tier: int = 10,
             max_merge_at_once: int = 10, max_concurrent: int = 1,
             soft_retention: str | None = None):
    """Run tiered merges until the segment count fits the tier policy
    (ConcurrentMergeScheduler, reference
    ``index/ConcurrentMergeScheduler.java:64``: maxMergeCount worker
    threads pull merges off the pending queue while the writer holds the
    index lock).

    ``max_concurrent > 1`` runs each planned round's merges as PARALLEL
    Spark jobs from scheduler threads — sound because one round's merges
    cover disjoint segment sets, heavy work (decode/re-encode shuffles,
    segment-dir writes) is embarrassingly job-parallel, and commits
    serialize on a lock with a commit-time snapshot re-read (so each
    commit swaps its own inputs against the LATEST generation, whatever
    order siblings landed in). New seg ids are pre-allocated per round
    to keep the final segment layout identical to the sequential
    schedule. Single-writer contract unchanged: no other writer
    (deletes/appends) may run concurrently with maintain — same rule as
    the reference's one-IndexWriter lock."""
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    while True:
        merges = plan_merges(snap.segments, segs_per_tier, max_merge_at_once)
        if not merges:
            return snap
        if max_concurrent <= 1 or len(merges) == 1:
            for batch in merges:
                snap = merge_segments(spark, index_dir, batch,
                                      soft_retention=soft_retention)
            continue
        import threading
        from concurrent.futures import ThreadPoolExecutor

        lock = threading.Lock()
        next_id = max(snap.seg_ids) + 1
        with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
            futs = [pool.submit(merge_segments, spark, index_dir, batch,
                                new_seg_id=next_id + i, _commit_lock=lock,
                                soft_retention=soft_retention)
                    for i, batch in enumerate(merges)]
            for f in futs:
                f.result()   # surface the first failure
        snap = catalog.load()


def force_merge(spark, index_dir: str, max_segments: int = 1,
                max_merged_docs: int | None = 50_000_000,
                soft_retention: str | None = None):
    """IndexWriter.forceMerge(n) analogue (IndexWriter.java:2105).

    ``max_merged_docs`` caps the docs routed through any single merge op
    (see plan_merges): forceMerge(1) over an unbounded index would
    otherwise concatenate every segment's norms in one executor task's
    heap (the Phase-1 assembly task in merge_segments). With the
    cap, the index converges to the fewest segments the cap allows; pass
    ``None`` for the reference's literal (and equally discouraged)
    merge-everything behavior."""
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    while len(snap.seg_ids) > max_segments:
        sizes = {s["seg_id"]: int(s["num_docs"]) for s in snap.segments}
        batch, docs = [], 0
        for sid in sorted(snap.seg_ids, key=lambda i: (sizes[i], i)):
            if len(batch) >= 10:
                break
            if batch and max_merged_docs and docs + sizes[sid] > max_merged_docs:
                break   # ascending order: every later segment is larger
            batch.append(sid)
            docs += sizes[sid]
        if len(batch) < 2:
            break       # cannot shrink further under the cap
        snap = merge_segments(spark, index_dir, batch,
                              soft_retention=soft_retention)
    return snap
