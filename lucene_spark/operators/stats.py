"""Global statistics jobs, including the explicitly-salted token-level
aggregation path for skewed high-df terms.

Two ways to obtain ``term_stats(term, df, ttf)``:

* :func:`lucene_spark.operators.build.compute_term_stats` — the fast path,
  every commit's dictionary: one shuffle-free fan-out over term ranges
  sums the per-segment postings rows with pyarrow. Those rows are already
  pre-aggregated (≤ 1 row per (term, segment)), so no range task holds
  more than its range's rows times the segment count.
* :func:`term_stats_from_tokens` (here) — the direct token-level job used
  for verification and for corpora indexed by other writers. Its input is
  one row PER TOKEN, so a source-code corpus makes near-universal terms
  (``if``, ``return``) genuinely hot keys. This is the north-star's
  "explicit salting" site: stage 1 aggregates on (term, salt) spreading
  each hot key over ``salt_buckets`` reducers; stage 2 combines the ≤
  ``salt_buckets`` partial rows per term. Identical result, bounded
  reducer skew.

Reference anchor: the reference accumulates global df/ttf by summing
per-leaf statistics at weight creation (``index/TermStates.java:184-190``);
salting is our distribution of that sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analysis import TOKEN_PATTERN


def tokenize_exploded(df: DataFrame, content_col: str = "content",
                      doc_id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term) one row per surviving token — built-in expressions
    only (regexp_extract_all runs in the JVM; the pandas-UDF analyzer is
    for the norm-exact build path, this is for stats jobs)."""
    # Note: Java regex \w is ASCII-only where Python's is Unicode — this
    # JVM tokenizer matches the analyzer exactly on ASCII corpora; the
    # norm-exact build path keeps using the Python analyzer UDF.
    toks = F.regexp_extract_all(
        F.col(content_col).cast("string"), F.lit(TOKEN_PATTERN), F.lit(0))
    return (df.select(F.col(doc_id_col), F.explode(toks).alias("raw"))
              .where(F.length("raw") <= 255)
              .select(doc_id_col, F.lower(F.col("raw")).alias("term")))


def term_stats_from_tokens(df: DataFrame, content_col: str = "content",
                           doc_id_col: str = "doc_id",
                           salt_buckets: int = 16) -> DataFrame:
    """Global (term, df, ttf) from raw documents with two-stage salted
    aggregation.

    Stage 1 groups by (term, salt) where salt = crc32(doc_id) %
    salt_buckets: a term appearing in every document now lands on
    ``salt_buckets`` reducers instead of one. Stage 2 merges the partial
    aggregates — at most ``salt_buckets`` rows per term, trivially cheap.
    df = distinct docs per term, counted exactly because a given doc's
    tokens all carry the same salt (salt is a function of doc_id alone).
    """
    tok = tokenize_exploded(df, content_col, doc_id_col)
    salted = tok.withColumn(
        "salt", F.pmod(F.crc32(F.col(doc_id_col).cast("string")),
                       F.lit(salt_buckets)))
    partial = (salted.groupBy("term", "salt")
               .agg(F.count("*").alias("ttf_part"),
                    F.countDistinct(doc_id_col).alias("df_part")))
    return (partial.groupBy("term")
            .agg(F.sum("df_part").alias("df"),
                 F.sum("ttf_part").alias("ttf")))


def field_stats_from_tokens(df: DataFrame, content_col: str = "content",
                            doc_id_col: str = "doc_id") -> DataFrame:
    """(doc_count, sum_total_term_freq) — the CollectionStatistics pair."""
    tok = tokenize_exploded(df, content_col, doc_id_col)
    return (tok.agg(F.countDistinct(doc_id_col).alias("doc_count"),
                    F.count("*").alias("sum_total_term_freq")))


def doc_values_stats(searcher, query, values_df: DataFrame,
                     value_col: str,
                     doc_id_col: str = "doc_id") -> DataFrame:
    """DocValuesStatsCollector role (reference ``misc/search/
    DocValuesStats.java:102-146`` + ``DocValuesStatsCollector.java``):
    aggregate statistics of a numeric doc-values field over the query's
    match set — count (docs WITH a value), missing (matched docs
    without), min, max, sum, mean, and population variance/stdev
    (the reference divides its accumulated squared deviation by count).

    One semi-join to the match set, then a single global aggregate with
    map-side partials; no per-doc state leaves the executors. Output is
    exactly one row (all-null min/max/sum and 0 mean/variance when no
    matched doc carries a value, matching the reference's initial state).
    """
    matched = searcher.matching_docs(query)
    joined = matched.join(
        values_df.select(doc_id_col, value_col), doc_id_col, "left")
    v = F.col(value_col)
    return joined.agg(
        F.count(v).alias("count"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("missing"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
        F.sum(v).alias("sum"),
        F.coalesce(F.avg(v), F.lit(0.0)).alias("mean"),
        F.coalesce(F.var_pop(v), F.lit(0.0)).alias("variance"),
        F.sqrt(F.coalesce(F.var_pop(v), F.lit(0.0))).alias("stdev"))
