"""Numeric DocValues updates — in-place field updates without reindexing.

Reference: ``IndexWriter.updateNumericDocValue(Term, field, value)``
buffers the update (``index/BufferedUpdates.java:63``,
``index/NumericDocValuesFieldUpdates.java:38``); readers resolve the
field against per-segment update generations (the ``.dvd``/``.dvm``
"field updates" gen files, ``index/ReadersAndUpdates.java:287``) and
merges BAKE the updated values into the merged segment's docvalues so
the overlay generation disappears (``index/SegmentMerger`` reads through
the updated reader view).

Spark-native shape: updates live in an overlay parquet table
``(seg_id, local_doc_id, field, value, gen)`` referenced from
``Snapshot.extra["dv_updates"]``. Unlike the tombstones (:mod:`.delete`),
which every reader loads on the driver, the overlay never reaches the
driver: readers apply it with one small Spark join
(``coalesce(overlay.value, base)``). So it keeps a Spark writer too: the
docs of the update term come from the same per-segment fan-out
``delete_by_term`` uses (:func:`.delete._docs_with_term`), and the overlay
is deduped last-write-wins by generation and written back by executors.
At 100 TB the overlay stays tiny relative to the corpus because merges
continuously bake it away.
"""

from __future__ import annotations

import os
import shutil
import uuid

from ..sources.catalog import SnapshotCatalog


def _overlay_path(catalog: SnapshotCatalog, snap) -> str | None:
    rel = (snap.extra or {}).get("dv_updates")
    if not rel:
        return None
    return rel if os.path.isabs(rel) else os.path.join(catalog.root, rel)


def write_dv_table(spark, catalog: SnapshotCatalog, gen: int,
                   updates_df) -> tuple[str, int]:
    """Write an overlay DataFrame ``(seg_id, local_doc_id, field, value,
    gen)`` as the snapshot's docvalues-update table — an executor-written
    parquet directory, deduped last-write-wins per (seg, doc, field) and
    range-clustered by segment so a reader's or merge's per-segment slice
    is a contiguous pushed-predicate scan. Returns (relpath, rows)."""
    from pyspark.sql import functions as F

    dv_dir = os.path.join(catalog.root, "dv_updates")
    os.makedirs(dv_dir, exist_ok=True)
    tmp = os.path.join(dv_dir, f"_tmp-{uuid.uuid4().hex}")
    final = os.path.join(dv_dir, f"gen-{gen}-{uuid.uuid4().hex[:8]}")
    (updates_df
     .groupBy("seg_id", "local_doc_id", "field")
     .agg(F.max_by("value", "gen").alias("value"),
          F.max("gen").alias("gen"))
     .repartitionByRange(F.col("seg_id"), F.col("local_doc_id"))
     .sortWithinPartitions("seg_id", "local_doc_id", "field")
     .write.mode("overwrite").parquet(tmp))
    count = int(spark.read.parquet(tmp).count())
    os.rename(tmp, final)
    return os.path.relpath(final, catalog.root), count


def update_numeric_docvalue(spark, index_dir: str, term: str,
                            field: str, value: int):
    """Set docvalues ``field`` to ``value`` for every live doc containing
    ``term``; returns the new Snapshot (metadata-only generation — no
    segment file changes, like a ``segments_N`` that only bumps dvGen).

    Fully distributed: each segment's task decodes the term's postings
    row (:func:`.delete._docs_with_term`); the hits are unioned with the
    previous overlay generation and written back by executors with
    last-write-wins dedup, so the driver never materializes a (seg, doc)
    pair.
    """
    from pyspark.sql import functions as F

    from .delete import _docs_with_term

    catalog = SnapshotCatalog(index_dir)
    snap = catalog.load()
    if snap is None:
        raise ValueError(f"no snapshot in {index_dir}")
    gen = snap.snapshot_id + 1
    hits = (_docs_with_term(spark, catalog, snap, term)
            .withColumn("field", F.lit(field))
            .withColumn("value", F.lit(int(value)).cast("long"))
            .withColumn("gen", F.lit(int(gen)).cast("long")))
    prev = _overlay_path(catalog, snap)
    if prev:
        hits = hits.unionByName(spark.read.parquet(prev))
    rel, count = write_dv_table(spark, catalog, gen, hits)
    extra = dict(snap.extra or {})
    extra["dv_updates"] = rel
    extra["num_dv_updates"] = count
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


def carry_updates(spark, catalog: SnapshotCatalog, snap, extra: dict,
                  merged_seg_ids: list[int], next_gen: int) -> None:
    """Carry the overlay rows of segments NOT in this merge forward into
    the next generation's table (mutates ``extra`` in place) — the merged
    segments' rows were baked into the merged doc_meta and drop out. The
    filter and rewrite run on executors, like every overlay write."""
    from pyspark.sql import functions as F

    path = _overlay_path(catalog, snap)
    if not path:
        return
    rem = (spark.read.parquet(path)
           .filter(~F.col("seg_id").isin([int(s) for s in merged_seg_ids])))
    rel, count = write_dv_table(spark, catalog, next_gen, rem)
    if count:
        extra["dv_updates"] = rel
        extra["num_dv_updates"] = count
    else:
        shutil.rmtree(os.path.join(catalog.root, rel), ignore_errors=True)
        extra.pop("dv_updates", None)
        extra["num_dv_updates"] = 0
