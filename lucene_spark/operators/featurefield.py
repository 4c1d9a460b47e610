"""FeatureQuery read path: score documents by a static-rank feature
stored as an encoded term frequency (reference
``core/document/FeatureField.java:238`` ``FeatureQuery`` via the three
``FeatureFunction`` classes at ``FeatureField.java:277,331,408``).

In the reference a feature is a one-term postings list on the
``_feature`` field whose per-doc freq carries the quantized float
(``FeatureField.java:164-166``); ``FeatureQuery`` iterates that
postings list and maps freq -> score through LogFunction /
SaturationFunction / SigmoidFunction.  Spark-native shape: the encoded
freq is a ``doc_meta`` int column — physically identical information
(one int per doc), but stored columnar next to the other per-doc
attributes, so the "postings scan" is a column-pruned parquet read with
``freq > 0`` pushed down (freq 0 = doc has no feature = no match,
matching the reference where the doc simply lacks the feature term).

Reading through :meth:`Searcher.docvalues` (instead of raw doc_meta)
additionally resolves ``updateNumericDocValue`` overlay generations, so
a static rank can be refreshed WITHOUT reindexing — the use case
Lucene's FeatureField docs call out as requiring a full reindex
(``FeatureField.java:118-121``).

Scoring is an Arrow-batched numpy pass (:func:`feature_scores`) with
the reference's exact float32/float64 op order; Spark SQL is not used
for the arithmetic because Catalyst promotes float division to double
(a silent f32->f64 widening the reference's LogFunction/
SaturationFunction never performs).

Scale: one column-pruned scan of doc_meta, a vectorized map, no
exchange — the combine-with-text-query join downstream is a join on
``doc_id`` against a ≤ |matches| score stream, exactly the shape
``score_all`` already feeds facets and function queries with.
"""

from __future__ import annotations

import pandas as pd

from ..functions.feature import feature_scores


def feature_query(searcher, field: str, function: str, weight: float,
                  pivot: float | None = None, a: float | None = None):
    """All docs carrying feature ``field`` with their feature scores as
    a DataFrame ``(doc_id long, score float)`` — the FeatureQuery
    scorer's (doc, score) stream (``FeatureField.java:238``).

    Tombstoned docs are masked at collection time like every other
    query path (liveDocs semantics)."""
    from pyspark.sql import functions as F

    src = (searcher.drop_deleted(searcher.docvalues(field)
                                 .filter(F.col("value") > 0))
           .select("doc_id", F.col("value").cast("long").alias("freq")))

    def score_batches(it):
        for pdf in it:
            s = feature_scores(pdf["freq"].to_numpy(), function,
                               weight, pivot, a)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "score": s})

    return src.mapInPandas(score_batches, "doc_id long, score float")


def distance_feature_query(searcher, field: str, origin: int, pivot: int,
                           weight: float = 1.0):
    """LongPoint.newDistanceFeatureQuery: boost docs whose numeric
    ``field`` is close to ``origin`` (reference
    ``core/document/LongDistanceFeatureQuery.java:117``):

        score = (float)(boost * (pivot / (pivot + (double) distance)))

    with ``distance = max(v, origin) - min(v, origin)`` in long
    arithmetic (``:307`` — unsigned distance; the sandbox never hits the
    Long.MAX_VALUE underflow clamp because doc values are bounded).

    All-double math, so this stays pure Catalyst — no UDF, no exchange:
    a column-pruned doc_meta scan with a projected expression.  The
    reference's distance-sorted BKD iterator is a top-k *optimization*
    (skip far docs once the heap is full); Spark's equivalent is
    TakeOrderedAndProject over the scored scan, which the caller gets by
    ``.orderBy(...).limit(k)``."""
    from pyspark.sql import functions as F

    if pivot <= 0:
        raise ValueError(f"pivotDistance must be > 0, got {pivot}")
    import numpy as np
    w64 = float(np.float32(weight))  # Java: float boost widened to double
    dv = searcher.drop_deleted(searcher.docvalues(field))
    o = F.lit(int(origin)).cast("long")
    dist = (F.greatest(F.col("value"), o)
            - F.least(F.col("value"), o)).cast("double")
    score = (F.lit(w64) * (F.lit(float(pivot))
                           / (F.lit(float(pivot)) + dist))).cast("float")
    return dv.select("doc_id", score.alias("score"))
