"""Large-merge demo: build a multi-million-doc index from Spark-generated
synthetic docs (no driver-side data), merge half its segments, and report
wall time + driver RSS growth — the evidence that a merge routes NO
per-doc state through the driver: norms/gid assembly runs as one
executor task, re-encode tasks rebuild remaps from the sparse tombstone
broadcast (or the executor-written sort-remap table), doc_meta rewrites
are range-clustered Spark jobs, and the tombstones carry forward as one
driver-written file. The driver holds O(segments + tombstones) only.

Usage: python tools/merge_demo.py [n_docs] [n_segments] [n_merge]
"""

from __future__ import annotations

import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_segs = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    n_merge = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.checkindex import check_index
    from lucene_spark.operators.merge import merge_segments
    from lucene_spark.session import get_session

    tmpbase = "/dev/shm" if os.path.isdir("/dev/shm") else None
    spark = get_session(master="local[32]", app_name="merge_demo",
                       shuffle_partitions=32,
                       **({"spark.local.dir": os.path.join(tmpbase, "spark_local_md")}
                          if tmpbase else {}),
                       **{"spark.driver.memory": "24g"})
    idx = tempfile.mkdtemp(prefix="merge_demo_",
                           dir=tmpbase or tempfile.gettempdir())
    shutil.rmtree(idx, ignore_errors=True)

    # synthetic docs generated ON EXECUTORS: ~8 tokens each, vocabulary
    # keyed off the id so term distributions are nontrivial
    docs = (spark.range(n_docs).withColumnRenamed("id", "doc_id")
            .withColumn("content", F.concat_ws(
                " ",
                F.concat(F.lit("w"), (F.col("doc_id") % 997).cast("string")),
                F.concat(F.lit("w"), (F.col("doc_id") % 89).cast("string")),
                F.concat(F.lit("w"), (F.col("doc_id") % 13).cast("string")),
                F.lit("common token stream data"),
                F.concat(F.lit("x"), (F.col("doc_id") % 401).cast("string")))))

    t0 = time.time()
    build_index(spark, docs, idx, num_segments=n_segs)
    t_build = time.time() - t0
    print(f"build: {n_docs} docs, {n_segs} segments, {t_build:.1f}s "
          f"({n_docs / t_build:,.0f} docs/s), driver RSS {rss_mb():.0f} MB")

    from lucene_spark.sources.catalog import SnapshotCatalog
    snap = SnapshotCatalog(idx).load()
    merge_ids = sorted(snap.seg_ids)[:n_merge]
    rss_before = rss_mb()
    t0 = time.time()
    merge_segments(spark, idx, merge_ids)
    t_merge = time.time() - t0
    rss_after = rss_mb()
    merged_docs = sum(s["num_docs"] for s in snap.segments
                      if s["seg_id"] in set(merge_ids))
    print(f"merge: {len(merge_ids)} segments / {merged_docs:,} docs in "
          f"{t_merge:.1f}s ({merged_docs / t_merge:,.0f} docs/s)")
    print(f"driver RSS: {rss_before:.0f} -> {rss_after:.0f} MB "
          f"(delta {rss_after - rss_before:.0f} MB; the merged "
          f"norms+gids the driver NO LONGER holds would be "
          f"{merged_docs * 9 / 1e6:.0f} MB)")
    totals = check_index(idx, spark=spark)
    print(f"CheckIndex: {totals['segments']} segments, "
          f"{totals['num_docs']:,} docs OK")
    shutil.rmtree(idx, ignore_errors=True)


if __name__ == "__main__":
    main()
