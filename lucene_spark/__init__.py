"""lucene_spark — a PySpark-native inverted-index + BM25 search engine.

A from-scratch, Spark-first reimplementation of the capabilities of the
reference engine (Apache Lucene 10.0.0-dev annotated fork): analysis chain,
segment posting-list construction with FOR/VByte delta compression and
block-max impacts, tiered segment merges, global collection statistics,
BM25 (k1=1.2, b=0.75) top-k retrieval with block-max pruning, snapshot
checkpoints with per-partition lineage, and the large-scale training-data
pipeline operators (dedup, similarity search, text analysis) that such an
engine needs at 100 TB scale.

Architecture (NOT a port):
  * documents live in parquet/Iceberg-style tables; Spark DataFrames declare
    every plan; Catalyst handles pushdown/pruning.
  * per-row work happens only inside vectorized pandas/Arrow UDFs
    (``mapInPandas`` over the build's segment partitions, grouped maps in
    the HNSW pipeline, scalar ``pandas_udf``) backed by numpy kernels — no
    row-at-a-time Python UDFs anywhere.
  * one Spark partition == one immutable segment (the reference's DWPT
    private-segment model: reference ``lucene/core/src/java/org/apache/
    lucene/index/DocumentsWriter.java:60-66``).
"""

__version__ = "0.1.0"

from .session import bootstrap_worker

# in a Spark Python worker this runs when an engine UDF is first unpickled
bootstrap_worker()
