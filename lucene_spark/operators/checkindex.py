"""CheckIndex: offline index integrity verification.

Reference: ``index/CheckIndex.java:90,529`` — walks every segment,
decodes every posting list, and cross-checks the structures (postings
sorted, counts consistent, norms present for every doc). Usable as a
library call and from the CLI (``python -m lucene_spark.cli check``),
like the reference's command-line tool.

The per-segment check is self-contained by design: ``check_index``
walks segments on the driver by default (small indexes, CLI use), and
with ``spark=`` fans the SAME check out over segment ids
(``search.fan_out``, the fan-out ``Searcher.map_segments`` runs) — the
shape that holds at 10^12 docs, where no single machine can sweep the
index (segment files live on shared storage, so any executor can read
its assigned segment).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from ..functions import codec
from ..functions.smallfloat import int_to_byte4
from ..sources.catalog import SnapshotCatalog


class CheckIndexError(AssertionError):
    pass


def _check(cond, seg_id, msg):
    if not cond:
        raise CheckIndexError(f"segment {seg_id}: {msg}")


def check_segment(seg_dir: str, seg_id: int,
                  store_positions: bool = True) -> dict:
    """Verify one segment; returns its counts."""
    postings = pd.read_parquet(os.path.join(seg_dir, "postings.parquet"))
    meta = pd.read_parquet(os.path.join(seg_dir, "doc_meta.parquet"))
    norms = pd.read_parquet(os.path.join(seg_dir, "norms.parquet"))
    n = int(norms.iloc[0]["num_docs"])

    local = np.sort(meta["local_doc_id"].to_numpy())
    _check(np.array_equal(local, np.arange(n)), seg_id,
           "doc_meta local ids not dense 0..n-1")
    _check(np.array_equal(
        meta.sort_values("local_doc_id")["norm_byte"].to_numpy(),
        int_to_byte4(meta.sort_values("local_doc_id")["doc_len"]
                     .to_numpy()).astype(np.int32)),
        seg_id, "norm_byte != SmallFloat(doc_len)")
    nb, gids = codec.decode_norms(norms.iloc[0])
    _check(len(nb) == n, seg_id, "norms length != num_docs")
    _check(len(gids) == n, seg_id, "global_doc_ids length != num_docs")
    # gids are sorted in fresh segments but merge concatenates docBase
    # ranges of mod-partitioned inputs — only uniqueness is invariant
    _check(len(np.unique(gids)) == len(gids), seg_id,
           "duplicate global doc ids")

    terms = postings["term"].to_numpy()
    _check(bool(np.all(terms[:-1] <= terms[1:])) or len(terms) <= 1,
           seg_id, "terms not sorted")
    num_postings = 0
    sum_ttf = 0
    for _, row in postings.iterrows():
        dec = codec.decode_postings(row, with_positions=store_positions)
        ids, tfs = dec["doc_ids"], dec["tfs"]
        t = row["term"]
        _check(len(ids) == row["df"], seg_id, f"{t}: df != len(doc_ids)")
        _check(len(ids) == 0 or np.all(np.diff(ids) > 0), seg_id,
               f"{t}: doc ids not strictly increasing")
        _check(int(tfs.sum()) == row["ttf"], seg_id, f"{t}: sum(tf) != ttf")
        _check(np.all(tfs >= 1), seg_id, f"{t}: tf < 1")
        _check(np.all((ids >= 0) & (ids < n)), seg_id,
               f"{t}: doc id out of range")
        bl = codec.decode_block_ranges(row["block_last"])
        _check(len(bl) == (len(ids) + codec.BLOCK_SIZE - 1)
               // codec.BLOCK_SIZE, seg_id, f"{t}: block count mismatch")
        _check(bl[-1] == ids[-1], seg_id, f"{t}: last block bound wrong")
        if store_positions and row["pos_bytes"]:
            _check(np.all(dec["positions"] >= 0), seg_id,
                   f"{t}: negative position")
        if "pay_bytes" in postings.columns:
            _check(len(row["pay_bytes"]) == 4 * int(row["ttf"]), seg_id,
                   f"{t}: payload stream length != 4 * ttf")
        imps = codec.decode_impacts(row["impact_bytes"], len(bl))
        for pairs in imps:
            for i in range(len(pairs)):       # Pareto frontier dominance
                for j in range(len(pairs)):
                    _check(i == j or not (pairs[i][0] >= pairs[j][0]
                                          and pairs[i][1] <= pairs[j][1]),
                           seg_id, f"{t}: dominated impact pair")
        num_postings += len(ids)
        sum_ttf += int(tfs.sum())
    return {"num_docs": n, "num_terms": len(postings),
            "num_postings": num_postings, "sum_ttf": sum_ttf,
            "sum_doc_len": int(meta["doc_len"].sum())}


def check_dictionary(path: str, num_postings: int, sum_ttf: int) -> None:
    """Verify a committed term dictionary against its segments' totals:
    its part files, in the order readers take them, hold strictly
    increasing terms (so the parts are in term order and disjoint, one
    row per term), and Σdf and Σttf equal the segments' posting count and
    token count. Streamed one row group at a time, so the driver holds at
    most one row group of the dictionary."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    prev, df, ttf = None, 0, 0
    for part in sorted(ds.dataset(path, format="parquet").files):
        f = pq.ParquetFile(part)
        for i in range(f.num_row_groups):
            t = f.read_row_group(i, columns=["term", "df", "ttf"])
            terms = t.column("term").to_numpy(zero_copy_only=False)
            if prev is not None:
                terms = np.concatenate(([prev], terms))
            _check(bool(np.all(terms[:-1] < terms[1:])), -1,
                   f"term dictionary not strictly increasing in {part}")
            prev = terms[-1] if len(terms) else prev
            df += int(t.column("df").to_numpy().sum())
            ttf += int(t.column("ttf").to_numpy().sum())
    _check(df == num_postings, -1,
           "term dictionary sum(df) != total postings")
    _check(ttf == sum_ttf, -1,
           "term dictionary sum(ttf) != total indexed tokens")


def check_index(index_dir: str, snapshot_id: int | None = None,
                spark=None) -> dict:
    """Verify every segment of a snapshot, the snapshot-level stats and
    the term dictionary. Returns totals; raises :class:`CheckIndexError`
    on any violation. With ``spark``, segments are verified in parallel
    executor tasks (:func:`~.search.fan_out`); only (counts | error) rows
    return to the driver."""
    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load(snapshot_id)
    if snap is None:
        raise CheckIndexError(f"no snapshot in {index_dir}")
    store_positions = bool(snap.extra.get("store_positions", True))
    counts = ("num_docs", "num_terms", "num_postings", "sum_ttf",
              "sum_doc_len")      # what check_segment returns
    totals = {"segments": 0, **dict.fromkeys(counts, 0)}
    lineage = {s["seg_id"]: s for s in snap.segments}

    def row(seg_id):
        """One segment's counts, or the error its check raised."""
        try:
            return {**check_segment(catalog.segment_dir(seg_id), seg_id,
                                    store_positions),
                    "seg_id": seg_id, "error": ""}
        except CheckIndexError as e:
            return {**dict.fromkeys(counts, 0), "seg_id": seg_id,
                    "error": str(e)}

    if spark is not None and snap.seg_ids:
        from .search import fan_out
        per_seg = {int(r["seg_id"]): r.asDict() for r in fan_out(
            spark, snap.seg_ids, lambda s: pd.DataFrame([row(s)]),
            ", ".join(f"{k} long" for k in counts)
            + ", seg_id int, error string").collect()}
    else:
        per_seg = {s: row(s) for s in snap.seg_ids}
    for s in snap.seg_ids:
        res = per_seg[s]
        if res["error"]:
            raise CheckIndexError(res["error"])
        _check(res["num_docs"] == lineage[s]["num_docs"], s,
               "lineage num_docs mismatch")
        _check(res["sum_doc_len"] == lineage[s]["sum_doc_len"], s,
               "lineage sum_doc_len mismatch")
        _check(res["sum_ttf"]
               == lineage[s].get("sum_token_len", lineage[s]["sum_doc_len"]),
               s, "lineage sum_token_len != postings token count")
        totals["segments"] += 1
        for k in counts:
            totals[k] += int(res[k])
    _check(totals["num_docs"] == int(snap.field_stats["doc_count"]), -1,
           "field_stats doc_count != sum of segments")
    _check(totals["sum_ttf"]
           == int(snap.field_stats["sum_total_term_freq"]), -1,
           "field_stats sum_total_term_freq != total indexed tokens")
    if snap.term_stats_path:
        check_dictionary(snap.term_stats_path, totals["num_postings"],
                         totals["sum_ttf"])
    # per-doc state — hard and soft tombstones, docvalues updates — on the
    # raw table: known segments, ids in range, no duplicate rows and a
    # count that matches the snapshot's
    from .delete import _FILES, check_addresses
    for key, (_, count_key, address) in _FILES.items():
        rel = (snap.extra or {}).get(key)
        totals[count_key] = 0
        if not rel:
            continue
        path = rel if os.path.isabs(rel) else os.path.join(index_dir, rel)
        raw = pd.read_parquet(path)
        try:
            check_addresses(snap.segments, raw["seg_id"],
                            raw["local_doc_id"], key)
        except ValueError as e:
            raise CheckIndexError(str(e)) from None
        _check(int(raw.duplicated(list(address)).sum()) == 0, -1,
               f"duplicate {key} rows")
        _check(int(snap.extra.get(count_key, -1)) == len(raw), -1,
               f"extra.{count_key} != {key} table rows")
        totals[count_key] = len(raw)
    totals["snapshot_id"] = snap.snapshot_id
    return totals
