"""Tiered segment merges as two shuffle-free fan-outs.

The reference picks ~10-segment merges by size tier (``index/
TieredMergePolicy.java:85-91,295,371``: segsPerTier=10, maxMergeAtOnce=10).
Its ``SegmentMerger`` streams the already term-sorted inputs and remaps
doc ids through each segment's docMap (``index/SegmentMerger.java:103-140``,
``index/DocIDMerger.java:32``); nothing is re-partitioned. A merge here has
the same shape over the segment files, in two ``search.fan_out`` jobs:

1. Assembly, one task: each input's norms and global ids, masked by its
   tombstones and concatenated at its doc base (under an index sort, also
   merge-sorted by the key), become the merged ``norms.parquet``.
2. Rewrite: n term ranges and n merged-doc-id ranges, n one per 64 MB
   of input postings and at most the default parallelism. A term-range
   task reads the k inputs' postings with a pushed range filter, remaps,
   re-encodes and writes one part file of ``postings.parquet``; a
   doc-id-range task writes one part of ``doc_meta.parquet`` with the
   docvalues overlay baked in. The parts are numbered in range order, so
   each directory reads back sorted like a built segment's file.

Every doc id moves through one docMap, :func:`_doc_map`. The merged segment
commits as a new snapshot generation. A term-range task's work is
proportional to its range's postings; the tiered policy bounds the size of
a merge, and the cut points split the largest input's dictionary evenly.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

from ..functions.codec import (decode_norms, decode_postings, norms_row,
                               norms_table, postings_rows, postings_table)
from ..sources.catalog import SnapshotCatalog, publish
from .build import commit_segments, write_segment_file

#: the fan-out result row of one merge task: a term range's postings
#: stats or a doc-id range's doc count and length sum
_PART_STATS = ("num_terms long, num_postings long, sum_ttf long, "
               "bytes long, num_docs long, sum_doc_len long")

#: the input postings bytes per part file: AQE's default advisory
#: partition size, which sized the part files when a merge shuffled by term
_PART_BYTES = 64 << 20


def term_ranges(spark, seg_dirs: dict[int, str]) -> list:
    """The term ranges a rewrite of the segments ``seg_dirs`` ({seg_id:
    dir}) splits their postings into, in term order, as pushed parquet
    filters (``None`` for the one range of all terms): one range per
    _PART_BYTES of input postings (``bytes_compressed`` in each input's
    ``stats.json``), at most the default parallelism. The
    cut points are the quantiles of the largest input's dictionary; this
    driver read is bounded by that one segment's ``term`` column, and no
    sampling job runs."""
    import pyarrow.parquet as pq
    lineage = {s: json.loads(Path(d, "stats.json").read_text())
               for s, d in seg_dirs.items()}
    size = sum(int(st["bytes_compressed"]) for st in lineage.values())
    n = max(1, min(spark.sparkContext.defaultParallelism,
                   -(-size // _PART_BYTES)))
    cuts = []
    if n > 1:
        largest = max(seg_dirs, key=lambda s: (lineage[s]["num_terms"], s))
        terms = np.sort(pq.read_table(
            os.path.join(seg_dirs[largest], "postings.parquet"),
            columns=["term"]).column("term").to_numpy(zero_copy_only=False))
        cuts = sorted({terms[len(terms) * i // n] for i in range(1, n)}) \
            if len(terms) else []
    bounds = [None, *cuts, None]
    return [[("term", op, v) for op, v in ((">=", lo), ("<", hi))
             if v is not None] or None for lo, hi in zip(bounds, bounds[1:])]


def _doc_map(doc_bases: dict, deletes: dict, table: dict | None = None):
    """``new_ids(seg_id, old_ids)`` → merged doc ids, -1 where purged (the
    docMap of ``DocIDMerger``). A live doc moves to ``base + old − #dead
    below old``; under an index sort ``table`` holds, per input segment,
    the assembly's new id of every old id."""
    def new_ids(seg_id: int, old_ids) -> np.ndarray:
        old = np.asarray(old_ids, np.int64)
        if table is not None:
            return table[seg_id][old]
        dead = deletes.get(seg_id)
        if dead is None or not len(dead):
            return old + doc_bases[seg_id]
        below = np.searchsorted(dead, old)
        new = doc_bases[seg_id] + old - below
        new[dead[np.minimum(below, len(dead) - 1)] == old] = -1
        return new
    return new_ids


def _bake(meta, overlay: pd.DataFrame):
    """One segment's doc_meta rows with the docvalues overlay rows
    ``(local_doc_id, field, value)`` written over their columns, cast to
    each column's type: the updated reader view ``SegmentMerger`` reads."""
    import pyarrow as pa
    import pyarrow.compute as pc
    old = meta.column("local_doc_id").to_numpy()
    for name, rows in overlay.groupby("field"):
        if name not in meta.column_names:
            continue
        at = pd.Index(rows["local_doc_id"].to_numpy()).get_indexer(old)
        hit = at >= 0
        i = meta.column_names.index(name)
        value = pa.array(rows["value"].to_numpy()[np.where(hit, at, 0)],
                         pa.int64()).cast(meta.schema.field(i).type)
        meta = meta.set_column(i, meta.schema.field(i),
                               pc.if_else(pa.array(hit), value,
                                          meta.column(i)))
    return meta


def _retained_soft_deletes(spark, catalog, soft_dels: dict,
                           predicate: str) -> dict[int, np.ndarray]:
    """The soft-deleted docs whose doc_meta row matches the retention
    ``predicate``, in one Spark job; the rows that reach the driver are
    bounded by the merged segments' soft-delete count."""
    import pyarrow.dataset as ds
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    from .delete import ids_by_segment

    paths = [os.path.join(catalog.segment_dir(s), "doc_meta.parquet")
             for s in sorted(soft_dels)]
    none = np.empty(0, np.int64)

    def soft_deleted(batches):
        for pdf in batches:
            seg = pdf["seg_id"].to_numpy()
            keep = np.zeros(len(pdf), dtype=bool)
            for s in np.unique(seg):
                m = seg == s
                keep[m] = np.isin(pdf["local_doc_id"].to_numpy()[m],
                                  soft_dels.get(int(s), none))
            yield pdf[keep]

    # the schema from one footer on the driver: no schema-inference job
    schema = from_arrow_schema(ds.dataset(paths[0]).schema)
    rows = (spark.read.schema(schema).parquet(*paths)
            .filter(F.expr(predicate))
            .select(F.col("seg_id").cast("int"),
                    F.col("local_doc_id").cast("int"))
            .mapInPandas(soft_deleted, "seg_id int, local_doc_id int")
            .toPandas())
    return ids_by_segment(rows)


def plan_merges(segments: list[dict], segs_per_tier: int = 10,
                max_merge_at_once: int = 10,
                max_merged_docs: int | None = 50_000_000) -> list[list[int]]:
    """Driver-side TieredMergePolicy-lite: while the segment count exceeds
    segs_per_tier, merge the ``max_merge_at_once`` smallest segments.

    ``max_merged_docs`` bounds the doc count of any single merge (the
    reference's maxMergedSegmentMB role, ``TieredMergePolicy.java:60``).
    The merged norms and global ids (~9-17 bytes/doc) are assembled in
    ONE executor task (phase 1 of :func:`merge_segments`; the driver holds
    only O(segments + tombstones) state), so an unbounded merge routes the
    whole merged doc axis through one executor's heap. The default cap
    keeps that task's peak at ~1 GB; ``None`` lifts it (opt-in, discouraged
    at 10^12-doc scale)."""
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
                   _commit_lock=None, soft_retention: str | None = None):
    """Merge ``seg_ids`` into one new segment, named by
    :meth:`SnapshotCatalog.allocate`; returns the new Snapshot. A merge
    whose commit failed leaves its segment unreferenced, and a retry
    writes a new one.

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
    the merged segments' doc_meta; only the retained pair list routes
    through the driver, bounded by the soft-delete count of the segments
    being merged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..functions.codec import check_codec_version
    from ..session import ensure_shipped
    from .delete import load_deletes
    from .docvalues import _overlay_path
    from .search import fan_out
    ensure_shipped(spark)
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError("nothing to merge")
    check_codec_version(snap)   # a v1 block would misdecode, not error
    missing = set(seg_ids) - set(snap.seg_ids)
    if missing:
        raise ValueError(f"segments not in snapshot: {missing}")
    seg_ids = sorted(seg_ids)
    store_positions = bool(snap.extra.get("store_positions", True))
    has_payloads = bool(snap.extra.get("payloads", False))

    # live docs: merges physically purge tombstoned docs (SegmentMerger
    # drops deletes; docIDs compact per segment before docBase concat).
    # Only the MERGED segments' tombstones are read to the driver (pushed
    # seg_id filter) — other segments' tombstones stay in the table.
    seg_deletes = {s: v
                   for s, v in load_deletes(catalog, snap, seg_ids).items()
                   if len(v)}

    # soft deletes: purged at merge like hard ones UNLESS the retention
    # predicate keeps them (retained docs stay physical + masked)
    soft_dels = {s: v for s, v in
                 load_deletes(catalog, snap, seg_ids,
                              key="soft_deletes").items() if len(v)}
    retained: dict[int, np.ndarray] = {}
    if soft_dels and soft_retention is not None:
        retained = _retained_soft_deletes(spark, catalog, soft_dels,
                                          soft_retention)
        # a doc that is hard-deleted too is purged whatever it matches
        retained = {s: keep for s, v in retained.items() if len(
            keep := np.setdiff1d(v, seg_deletes.get(s, v[:0])))}
    for s, v in soft_dels.items():
        purge = v[~np.isin(v, retained.get(s, np.empty(0, np.int64)))]
        if len(purge):
            prev = seg_deletes.get(s, np.empty(0, np.int64))
            seg_deletes[s] = np.unique(
                np.concatenate((prev, purge.astype(np.int64))))

    # docBase remap (DocIDMerger): concatenate in ascending seg_id order.
    # The DRIVER holds only O(segments + tombstones) state: live counts
    # come from segment stats and the tombstone lengths. The per-doc work
    # runs in the tasks below, which rebuild the docMap from the sparse
    # tombstones (or read the assembly's sort table).
    stats_by_seg = {s["seg_id"]: s for s in snap.segments}
    seg_nums = {s: int(stats_by_seg[s]["num_docs"]) for s in seg_ids}
    seg_dirs = {s: catalog.segment_dir(s) for s in seg_ids}
    doc_bases: dict[int, int] = {}
    n_dead: dict[int, int] = {}
    base = 0
    for s in seg_ids:
        dead = seg_deletes.get(s)
        n_dead[s] = int((dead < seg_nums[s]).sum()) if dead is not None \
            else 0
        doc_bases[s] = base
        base += seg_nums[s] - n_dead[s]
    n_docs = base
    sort_info = (snap.extra or {}).get("index_sort")
    field = sort_info["field"] if sort_info else None
    s_asc = bool(sort_info["ascending"]) if sort_info else True

    with (catalog.allocated(1) as [new_seg_id],
          publish(catalog.segment_dir(new_seg_id)) as tmp):
        os.makedirs(tmp)
        norms_path = os.path.join(tmp, "norms.parquet")
        remap_path = os.path.join(tmp, "remap.parquet")

        # Phase 1 — norms/gids assembly, one executor task (the only place the
        # whole merged doc axis is materialized): mask each segment's norms by
        # its tombstones, concatenate at the doc bases; under an index sort
        # (reference MergeState.needsIndexSort → ``index/IndexSorter.java:44``
        # + the sorting DocIDMerger, ``index/DocIDMerger.java:97``) also
        # merge-sort by (key asc|desc, global doc_id asc) — each input is
        # already key-ordered — permute, and write each input's old id → new id
        # table for phase 2. Files land in the tmp segment dir the same way
        # build tasks write theirs (shared index storage contract). Retained
        # soft deletes follow their docs to the new ids here, where the docMap
        # is first known.
        def assemble(_):
            norm_parts, gid_parts, key_parts, live_ids = [], [], [], []
            for s in seg_ids:
                norms, gids = decode_norms(pd.read_parquet(
                    os.path.join(seg_dirs[s], "norms.parquet")).iloc[0])
                live = np.ones(len(norms), dtype=bool)
                dead = seg_deletes.get(s)
                if dead is not None:
                    live[dead[dead < len(norms)]] = False
                norm_parts.append(norms[live])
                gid_parts.append(gids[live])
                if field is not None:
                    kdf = pd.read_parquet(
                        os.path.join(seg_dirs[s], "doc_meta.parquet"),
                        columns=["local_doc_id", field]) \
                        .sort_values("local_doc_id")
                    key_parts.append(kdf[field].reset_index(drop=True)[live])
                    live_ids.append(np.nonzero(live)[0])
            merged_norms = np.concatenate(norm_parts)
            merged_gids = np.concatenate(gid_parts)
            table = None
            if field is not None:
                order = (pd.DataFrame({"k": pd.concat(key_parts,
                                                      ignore_index=True),
                                       "g": merged_gids})
                         .sort_values(["k", "g"], ascending=[s_asc, True],
                                      kind="mergesort").index.to_numpy())
                inv = np.empty(len(order), dtype=np.int64)
                inv[order] = np.arange(len(order), dtype=np.int64)
                merged_norms = merged_norms[order]
                merged_gids = merged_gids[order]
                table, off = {}, 0
                for s, olds in zip(seg_ids, live_ids):
                    table[s] = np.full(seg_nums[s], -1, np.int64)
                    table[s][olds] = inv[off:off + len(olds)]
                    off += len(olds)
                pq.write_table(pa.table({
                    "seg_id": pa.array(seg_ids, pa.int32()),
                    "new_ids": pa.array([table[s].tobytes() for s in seg_ids],
                                        pa.binary())}), remap_path)
            write_segment_file(norms_table(norms_row(
                new_seg_id, merged_norms, merged_gids)), norms_path)
            new_ids = _doc_map(doc_bases, seg_deletes, table)
            soft = [new_ids(s, v) for s, v in sorted(retained.items())]
            return pd.DataFrame({
                "n_docs": [len(merged_norms)],
                "soft": [np.concatenate(soft).astype("<i4").tobytes()
                         if soft else b""]})

        got = fan_out(spark, [None], assemble,
                      "n_docs long, soft binary").collect()[0]
        if int(got["n_docs"]) != n_docs:
            raise RuntimeError(
                f"norms assembly produced {got['n_docs']} docs, "
                f"stats+tombstones imply {n_docs}")
        new_soft = ({new_seg_id: np.frombuffer(got["soft"], "<i4")}
                    if retained else {})

        # Phase 2 — one fan-out over n term ranges (term_ranges) and n
        # merged-id ranges, one part file each. Every task's closure carries
        # the merged segments' tombstones (8 bytes each, at most their
        # num_docs), shipped once per task, 2n ≤ 2P times. Under an index sort
        # a doc-id range's old ids scatter, so each doc-id item reads every
        # input's doc_meta whole: doc_meta is read n times (once below
        # _PART_BYTES).
        term_filters = term_ranges(spark, seg_dirs)
        n = len(term_filters)
        doc_bounds = sorted({n_docs * i // n for i in range(n + 1)})
        if len(doc_bounds) == 1:
            doc_bounds *= 2          # an empty merge still writes doc_meta
        items = [("postings", i, f) for i, f in enumerate(term_filters)]
        items += [("doc_meta", i, (lo, hi)) for i, (lo, hi)
                  in enumerate(zip(doc_bounds, doc_bounds[1:]))]
        # interleave the kinds, so each task gets a share of both
        items.sort(key=lambda it: (it[1], it[0] == "doc_meta"))
        for name in ("postings", "doc_meta"):
            os.makedirs(os.path.join(tmp, f"{name}.parquet"))
        overlay_path = _overlay_path(catalog, snap)
        task: dict = {}   # per task: each task unpickles its own copy

        def docmap():
            if "new_ids" not in task:
                table = None
                if field is not None:
                    rdf = pd.read_parquet(remap_path)
                    table = {int(s): np.frombuffer(b, "<i8")
                             for s, b in zip(rdf["seg_id"], rdf["new_ids"])}
                task["new_ids"] = _doc_map(doc_bases, seg_deletes, table)
            return task["new_ids"]

        def part_path(name, i):
            return os.path.join(tmp, f"{name}.parquet",
                                f"part-{i:05d}.parquet")

        def rewrite(item):
            kind, i, rng = item
            if kind == "postings":
                out = reencode(rng)
                table, size = postings_table(out)
                write_segment_file(table, part_path(kind, i))
                return pd.DataFrame({
                    "num_terms": [len(out)],
                    "num_postings": [int(out["df"].sum())],
                    "sum_ttf": [int(out["ttf"].sum())],
                    "bytes": [size], "num_docs": [0], "sum_doc_len": [0]})
            meta = remap_meta(*rng)
            write_segment_file(meta, part_path(kind, i))
            return pd.DataFrame({
                "num_terms": [0], "num_postings": [0], "sum_ttf": [0],
                "bytes": [0], "num_docs": [meta.num_rows],
                "sum_doc_len": [int(meta.column("doc_len").to_numpy().sum())]})

        def remap_meta(lo, hi):
            """The doc_meta rows of merged ids [lo, hi), by new id: each
            input's rows that land there, with the overlay baked in."""
            new_ids = docmap()
            if "overlay" not in task:
                task["overlay"] = (pd.read_parquet(
                    overlay_path, filters=[("seg_id", "in", seg_ids)])
                    if overlay_path else None)
            overlay = task["overlay"]
            parts = []
            for s in seg_ids:
                filters = None   # sorted: a range's old ids scatter
                if field is None:    # unsorted: they are contiguous
                    filters = [("local_doc_id", ">=", lo - doc_bases[s]),
                               ("local_doc_id", "<",
                                hi - doc_bases[s] + n_dead[s])]
                meta = pq.read_table(
                    os.path.join(seg_dirs[s], "doc_meta.parquet"),
                    filters=filters)
                new = new_ids(s, meta.column("local_doc_id").to_numpy())
                keep = (new >= lo) & (new < hi)
                meta = meta.filter(pa.array(keep))
                if overlay is not None:
                    meta = _bake(meta, overlay[overlay["seg_id"] == s])
                for name, col in (("seg_id", np.full(len(meta), new_seg_id)),
                                  ("local_doc_id", new[keep])):
                    meta = meta.set_column(
                        meta.column_names.index(name),
                        pa.field(name, pa.int32()), pa.array(col, pa.int32()))
                parts.append(meta)
            return pa.concat_tables(parts, promote_options="permissive") \
                .sort_by("local_doc_id")

        def reencode(filters):
            """One term range: decode every (term, segment) row, concatenate
            per term in segment order at the merged ids, then re-encode ALL
            the range's terms in one batched pass (``postings_rows``) —
            per-term Python/Arrow overhead would dominate a merge
            otherwise."""
            pdf = pd.concat(
                [pd.read_parquet(os.path.join(seg_dirs[s], "postings.parquet"),
                                 filters=filters) for s in seg_ids],
                ignore_index=True)
            pdf = pdf.sort_values(["term", "seg_id"], kind="mergesort")
            new_ids = docmap()
            if "norms" not in task:
                task["norms"] = decode_norms(
                    pd.read_parquet(norms_path).iloc[0])[0]
            empty = [np.empty(0, np.int64)]
            ids_parts, tf_parts, pos_parts, pay_parts = [], [], [], []
            row_lens = np.empty(len(pdf), dtype=np.int64)
            term_of_row = pdf["term"].to_numpy()
            for i, row in enumerate(pdf.itertuples(index=False)):
                dec = decode_postings(row._asdict(),
                                      with_positions=store_positions)
                ids, tfs = dec["doc_ids"], dec["tfs"]
                pos = dec.get("positions", empty[0]) \
                    if store_positions else None
                pay = np.frombuffer(row.pay_bytes, dtype="<f4") \
                    if has_payloads else None
                newids = new_ids(int(row.seg_id), ids)
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
                ids_parts.append(ids)
                tf_parts.append(tfs)
                row_lens[i] = len(ids)
                if store_positions:
                    pos_parts.append(pos)
                if pay is not None:
                    pay_parts.append(pay)
            ids = np.concatenate(ids_parts + empty)
            tfs = np.concatenate(tf_parts + empty)
            pos = np.concatenate(pos_parts + empty) if store_positions else None
            pay = np.concatenate(pay_parts + [np.empty(0, "<f4")]) \
                if has_payloads else None
            # term boundaries in posting space (post-purge lengths; terms whose
            # every posting was deleted are dropped entirely)
            new_term = np.ones(len(pdf), dtype=bool)
            new_term[1:] = term_of_row[1:] != term_of_row[:-1]
            term_ids = np.cumsum(new_term) - 1
            if field is not None and len(ids):
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
            alive = term_tot > 0
            term_off = np.concatenate(([0], np.cumsum(term_tot[alive])))
            return postings_rows(
                term_of_row[np.nonzero(new_term)[0]][alive], new_seg_id, ids,
                tfs, pos, pay, task["norms"], term_off)

        parts = fan_out(spark, items, rewrite, _PART_STATS).toPandas().sum()
        if field is not None:
            os.unlink(remap_path)   # phase-internal; not part of the segment
        if int(parts["num_docs"]) != n_docs:
            raise RuntimeError(f"doc_meta rewrite wrote {parts['num_docs']} "
                               f"docs, stats+tombstones imply {n_docs}")
        stats = {
            "seg_id": int(new_seg_id),
            "num_docs": int(n_docs),
            "num_terms": int(parts["num_terms"]),
            "num_postings": int(parts["num_postings"]),
            "sum_doc_len": int(parts["sum_doc_len"]),
            # exact token count of the merged postings (Σ ttf) — the
            # sumTotalTermFreq basis; equals sum_doc_len unless index-time
            # synonym overlaps were discounted from norms
            "sum_token_len": int(parts["sum_ttf"]),
            "bytes_compressed": int(parts["bytes"]),
            "build_partition": -1,
            "origin": "merge",
            "merged_from": seg_ids,
            "status": "built",
        }
        with open(os.path.join(tmp, "stats.json"), "w") as f:
            json.dump(stats, f)

    return _commit_merge(spark, catalog, seg_ids, stats,
                         lock=_commit_lock, new_soft=new_soft)


def _commit_merge(spark, catalog, seg_ids: list[int], stats: dict,
                  lock=None, new_soft: dict | None = None):
    """Publish a built merged segment: swap ``seg_ids`` for the new
    segment in the CURRENT snapshot and commit one generation, with
    ``new_soft`` ({new seg_id: retained soft-deleted ids}) added to the
    carried soft tombstones.

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
        merged = set(seg_ids)
        # the merged segments' tombstones drop out (their docs are purged)
        # and their docvalues updates were baked into the merged doc_meta;
        # the survivors' carry forward, and the retained soft deletes join
        # under the merged segment's ids. index_sort SURVIVES the merge:
        # the merged segment is ordered by the key (sorting merge,
        # MergeState/IndexSorter). A dv update committed between merge
        # start and this commit is carried for surviving segments but lost
        # for the merged ones — updates and merges of the same segments
        # serialize in practice (same commit lock); documented limitation
        # of the async path.
        return commit_segments(
            spark, catalog, snap,
            [s for s in snap.segments if s["seg_id"] not in merged]
            + [stats], snap.extra or {},
            [(catalog, snap, {s: s for s in snap.seg_ids
                              if s not in merged})], soft_add=new_soft)


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
    import pyarrow as pa
    import pyarrow.parquet as pq

    dest = SnapshotCatalog(dest_dir)
    src = SnapshotCatalog(src_dir)
    dsnap, ssnap = dest.load(), src.load()
    if dsnap is None or ssnap is None:
        raise ValueError("both indexes need a committed snapshot")
    if bool(dsnap.extra.get("store_positions", True)) != \
            bool(ssnap.extra.get("store_positions", True)):
        raise ValueError("store_positions mismatch between indexes")
    new_segments = list(dsnap.segments)
    src_lineage = {s["seg_id"]: s for s in ssnap.segments}
    id_map = dict(zip(ssnap.seg_ids, dest.allocate(len(ssnap.seg_ids))))
    for old_id, new_id in id_map.items():
        sdir = src.segment_dir(old_id)
        stats = dict(src_lineage[old_id])
        stats["seg_id"] = int(new_id)
        stats["origin"] = "addIndexes"
        stats["imported_from"] = os.path.abspath(src_dir)
        with publish(dest.segment_dir(new_id)) as tmp:
            os.makedirs(tmp)
            for fname in ("postings.parquet", "doc_meta.parquet",
                          "norms.parquet"):
                tbl = pq.read_table(os.path.join(sdir, fname))
                if "seg_id" in tbl.column_names:
                    i = tbl.column_names.index("seg_id")
                    tbl = tbl.set_column(
                        i, tbl.field(i),
                        pa.array(np.full(len(tbl), new_id, dtype=np.int32),
                                 type=tbl.field(i).type))
                write_segment_file(tbl, os.path.join(tmp, fname))
            with open(os.path.join(tmp, "stats.json"), "w") as f:
                json.dump(stats, f)
        new_segments.append(stats)
    # the imported segments keep their per-doc state: the reference's
    # addIndexes(Directory) copies segments as-is INCLUDING their .liv and
    # dv-update files (IndexWriter.copySegmentAsIs), so the source's
    # tombstones, soft tombstones and docvalues updates carry with seg ids
    # remapped, next to the destination's own
    extra = dict(dsnap.extra or {})
    if (dsnap.extra or {}).get("index_sort") != \
            (ssnap.extra or {}).get("index_sort"):
        extra.pop("index_sort", None)   # mixed ordering: no early termination
    return commit_segments(spark, dest, dsnap, new_segments, extra,
                           [(dest, dsnap, {s: s for s in dsnap.seg_ids}),
                            (src, ssnap, id_map)])


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
    only term_stats is recomputed, by the commit's one fan-out over the
    kept segments' postings (:func:`.build.compute_term_stats`)."""
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
        with publish(dest.segment_dir(sid)) as tmp:
            shutil.copytree(src.segment_dir(sid), tmp)
        stats = dict(lineage[sid])
        stats["origin"] = "split"
        stats["split_from"] = os.path.abspath(src_dir)
        kept.append(stats)
    extra = {k: v for k, v in (snap.extra or {}).items()
             if k in ("store_positions", "codec_version", "payloads",
                      "index_sort", "doc_id_col")}
    extra["num_segments"] = len(want)
    # the kept segments' tombstones and docvalues updates come along
    # (IndexSplitter copies .liv)
    return commit_segments(spark, dest, None, kept, extra,
                           [(src, snap, {s: s for s in want})])


def _split_tombstoned(spark, src_dir: str, out: str, seg_ids: list[int],
                      unwanted):
    """Copy ``seg_ids`` of ``src_dir`` into ``out`` (:func:`split_index`)
    and tombstone the doc_meta rows ``unwanted(doc_meta)`` selects, on top
    of the tombstones the copy already carries; commit and return the
    snapshot. The complement strategy the three splitters share: one job
    collects the selected rows, at most the copy's doc count (the bound a
    ``Searcher`` open holds), and they join the copy's tombstones on the
    driver."""
    from pyspark.sql import functions as F

    from .delete import _commit_tombstones, _union, ids_by_segment
    part = split_index(spark, src_dir, out, seg_ids)
    cat = SnapshotCatalog(out)
    meta = spark.read.parquet(
        *[os.path.join(cat.segment_dir(sid), "doc_meta.parquet")
          for sid in part.seg_ids])
    rows = unwanted(meta).select(F.col("seg_id").cast("int"),
                                 F.col("local_doc_id").cast("int"))
    add = ids_by_segment(rows.toPandas())
    return _commit_tombstones(out, "deletes",
                              lambda c, s, t: _union(t, add))


def multi_pass_split(spark, src_dir: str, out_dirs: list[str]):
    """MultiPassIndexSplitter role (reference
    ``misc/src/java/org/apache/lucene/misc/index/
    MultiPassIndexSplitter.java``): split an index into N parts by
    round-robin global doc_id — each part is a full segment copy with
    every document NOT in its share marked DELETED, exactly the
    reference's "marks documents as deleted" strategy (no re-indexing;
    stats stay stale until a merge purges, like any tombstone).

    The complement tombstones come from one scan of each part's doc_meta
    (pushed pmod filter). Returns the list of committed Snapshots."""
    from pyspark.sql import functions as F

    snap = SnapshotCatalog(src_dir).load()
    if snap is None:
        raise ValueError(f"no snapshot in {src_dir}")
    n = len(out_dirs)
    if n < 2:
        raise ValueError("need at least 2 output dirs")
    return [_split_tombstoned(
        spark, src_dir, out, snap.seg_ids,
        lambda meta, i=i: meta.where(F.pmod(F.col("doc_id"), F.lit(n)) != i))
        for i, out in enumerate(out_dirs)]


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
    doc_meta scan anti/semi-joined against it. Returns
    (matching_snapshot, rest_snapshot)."""
    from .search import Searcher

    snap = SnapshotCatalog(src_dir).load()
    if snap is None:
        raise ValueError(f"no snapshot in {src_dir}")
    matches = (Searcher(spark, src_dir).score_all(query)
               .select("doc_id").distinct())
    return tuple(_split_tombstoned(
        spark, src_dir, out, snap.seg_ids,
        lambda meta, how=how: meta.join(matches, "doc_id", how))
        for out, how in ((out_match_dir, "left_anti"),
                         (out_rest_dir, "left_semi")))


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

    from .search import Searcher

    snap = SnapshotCatalog(src_dir).load()
    if snap is None:
        raise ValueError(f"no snapshot in {src_dir}")
    dest = SnapshotCatalog(dest_dir)
    if dest.load() is not None:
        raise ValueError(f"{dest_dir} already holds an index")
    searcher = Searcher(spark, src_dir)
    parts = []
    for sel in selectors:
        out = tempfile.mkdtemp(prefix="lucene_spark_rearrange_")
        shutil.rmtree(out)
        if hasattr(sel, "columns"):          # DataFrame selector
            matches = sel.select("doc_id").distinct()
        else:                                # query-node selector
            matches = searcher.score_all(sel).select("doc_id").distinct()
        _split_tombstoned(spark, src_dir, out, snap.seg_ids,
                          lambda meta: meta.join(matches, "doc_id",
                                                 "left_anti"))
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
    cover disjoint segment sets, heavy work (decode/re-encode fan-outs,
    segment-dir writes) is embarrassingly job-parallel, and commits
    serialize on a lock with a commit-time snapshot re-read (so each
    commit swaps its own inputs against the LATEST generation, whatever
    order siblings landed in). Each merge names its segment through the
    catalog's allocator, so the new ids follow the order the merges
    reach it. Single-writer contract unchanged: no other writer
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
        with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
            futs = [pool.submit(merge_segments, spark, index_dir, batch,
                                _commit_lock=lock,
                                soft_retention=soft_retention)
                    for batch in merges]
            for f in futs:
                f.result()   # surface the first failure
        snap = catalog.load()


def force_merge(spark, index_dir: str, max_segments: int = 1,
                max_merged_docs: int | None = 50_000_000,
                soft_retention: str | None = None):
    """IndexWriter.forceMerge(n) analogue (IndexWriter.java:2105): merge
    the smallest segments, by :func:`plan_merges`' first batch, until at
    most ``max_segments`` remain.

    ``max_merged_docs`` caps the docs routed through any single merge
    (see :func:`plan_merges`): forceMerge(1) over an unbounded index would
    otherwise assemble every segment's norms in one executor task. With
    the cap, the index converges to the fewest segments the cap allows;
    pass ``None`` for the reference's literal (and equally discouraged)
    merge-everything behavior."""
    snap = SnapshotCatalog(index_dir).load()
    while len(snap.seg_ids) > max_segments:
        merges = plan_merges(snap.segments, max_segments, 10,
                             max_merged_docs)
        if not merges:
            break       # cannot shrink further under the cap
        snap = merge_segments(spark, index_dir, merges[0],
                              soft_retention=soft_retention)
    return snap
