"""Numeric DocValues updates — in-place field updates without reindexing.

Reference: ``IndexWriter.updateNumericDocValue(Term, field, value)``
buffers the update (``index/BufferedUpdates.java:63``,
``index/NumericDocValuesFieldUpdates.java:38``); readers resolve the
field against per-segment update generations (the ``.dvd``/``.dvm``
"field updates" gen files, ``index/ReadersAndUpdates.java:287``) and
merges BAKE the updated values into the merged segment's docvalues so
the overlay generation disappears (``index/SegmentMerger`` reads through
the updated reader view).

Spark-native shape: updates live in an overlay parquet file
``(seg_id, local_doc_id, field, value, gen)`` referenced from
``Snapshot.extra["dv_updates"]``, one per generation, sorted and kept
last-write-wins per (seg, doc, field). It is per-doc state like the
tombstones (:mod:`.delete`) and is written the same way, on the driver:
an update collects the docs of its term from one shuffle-free fan-out
(:func:`.delete._docs_with_term`), unions them with the previous
generation's rows and writes the result with :func:`write_updates`, the
one overlay writer. Merges, builds, ``add_indexes`` and ``split_index``
carry it through the same writer (:func:`.build.commit_segments`). The
driver holds the overlay rows written since the last merge bake of their
segments: a merge bakes the merged segments' rows into their doc_meta and
drops them. Readers apply the overlay with one small Spark join
(``coalesce(overlay.value, base)``); earlier generations wrote it as a
parquet directory, which every reader here also opens.
"""

from __future__ import annotations

import os

import pandas as pd

from ..sources.catalog import SnapshotCatalog

_COLUMNS = ["seg_id", "local_doc_id", "field", "value", "gen"]


def _overlay_path(catalog: SnapshotCatalog, snap) -> str | None:
    rel = (snap.extra or {}).get("dv_updates")
    if not rel:
        return None
    return rel if os.path.isabs(rel) else os.path.join(catalog.root, rel)


def load_updates(catalog: SnapshotCatalog, snap) -> pd.DataFrame:
    """The snapshot's overlay rows ``(seg_id, local_doc_id, field, value,
    gen)``, read from its parquet file or directory (empty if none)."""
    path = _overlay_path(catalog, snap)
    if not path:
        return pd.DataFrame(columns=_COLUMNS)
    return pd.read_parquet(path, columns=_COLUMNS)


def write_updates(catalog: SnapshotCatalog, segments: list[dict], gen: int,
                  rows: pd.DataFrame, extra: dict) -> None:
    """The one overlay writer: ``rows`` become generation ``gen``'s
    overlay file, the last row of each (seg, doc, field) only, sorted by
    it, in the order of ``_COLUMNS``. Last-write-wins follows row order,
    not ``gen``: callers put the previous rows first and the new ones
    last, and a carried overlay keeps the ``gen`` its own index gave it,
    which another index's generations need not exceed. An address outside
    ``segments`` raises ``ValueError``, as a tombstone's does."""
    import pyarrow as pa

    from .delete import _FILES, check_addresses, write_generation
    check_addresses(segments, rows["seg_id"], rows["local_doc_id"],
                    "docvalues update")
    address = list(_FILES["dv_updates"][2])
    rows = (rows.drop_duplicates(address, keep="last")
            .sort_values(address, kind="stable"))
    write_generation(catalog, "dv_updates", gen, pa.table({
        "seg_id": pa.array(rows["seg_id"], pa.int32()),
        "local_doc_id": pa.array(rows["local_doc_id"], pa.int32()),
        "field": pa.array(rows["field"], pa.string()),
        "value": pa.array(rows["value"], pa.int64()),
        "gen": pa.array(rows["gen"], pa.int64())}), extra)


def update_numeric_docvalue(spark, index_dir: str, term: str,
                            field: str, value: int):
    """Set docvalues ``field`` to ``value`` for every doc containing
    ``term``; returns the new Snapshot (metadata-only generation — no
    segment file changes, like a ``segments_N`` that only bumps dvGen).

    One Spark job finds and collects the term's docs
    (:func:`.delete._docs_with_term`), at most the snapshot's doc count;
    they join the previous overlay rows on the driver and
    :func:`write_updates` writes the next generation's file."""
    from .delete import _docs_with_term

    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError(f"no snapshot in {index_dir}")
    gen = snap.snapshot_id + 1
    hits = _docs_with_term(spark, catalog, snap, term).toPandas().assign(
        field=field, value=int(value), gen=gen)
    prev = load_updates(catalog, snap)
    extra = dict(snap.extra or {})
    write_updates(catalog, snap.segments, gen,
                  pd.concat([prev, hits], ignore_index=True)
                  if len(prev) else hits, extra)
    return catalog.commit(snap.segments, snap.field_stats,
                          snap.term_stats_path, extra=extra)


def read_docvalues(spark, catalog: SnapshotCatalog, snap, doc_meta,
                   field: str):
    """Per-doc resolved numeric docvalues: ``(seg_id, local_doc_id,
    doc_id, value)`` — the base column from doc_meta overlaid with the
    latest update generation (``ReadersAndUpdates.getNumericDocValues``
    role). The overlay read is filtered to ``field`` (pushed down); the
    join key is the physical (seg, doc) address so no shuffle of the
    corpus is keyed on anything new."""
    from pyspark.sql import functions as F

    base = doc_meta.select(
        "seg_id", "local_doc_id", "doc_id",
        F.col(field).cast("long").alias("_base"))
    path = _overlay_path(catalog, snap)
    if not path:
        return base.select("seg_id", "local_doc_id", "doc_id",
                           F.col("_base").alias("value"))
    ov = (spark.read.parquet(path)
          .filter(F.col("field") == field)
          .select(F.col("seg_id").alias("_os"),
                  F.col("local_doc_id").alias("_ol"),
                  F.col("value").alias("_ov")))
    return (base.join(ov, (F.col("seg_id") == F.col("_os"))
                      & (F.col("local_doc_id") == F.col("_ol")), "left")
            .select("seg_id", "local_doc_id", "doc_id",
                    F.coalesce(F.col("_ov"), F.col("_base")).alias("value")))
