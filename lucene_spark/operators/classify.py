"""Index-backed text classification (reference ``lucene/classification``
module): SimpleNaiveBayesClassifier and KNearestNeighborClassifier
re-expressed as batch DataFrame jobs over the inverted index.

The reference classifies one input string at a time with driver-side
loops over ``IndexSearcher.count`` calls per (word, class) pair
(``classification/SimpleNaiveBayesClassifier.java:139-283``). The
Spark-native shape classifies a whole input batch in one job: the batch
vocabulary drives a pushed-filter postings decode, the (term, class)
document-frequency table is one map-side-combined groupBy, and the
per-(input, class) log-likelihood sums are Catalyst aggregations — no
per-word driver round trips, so the same code classifies 10^9 inputs on
a cluster.

BooleanPerceptronClassifier splits the same way: model FITTING is a
strictly sequential per-doc loop (the reference's own design — an
in-heap SortedMap + recompiled FST), so :func:`boolean_perceptron_train`
replays it faithfully on the driver over the (small) labeled training
set, holding only train-vocabulary (term, ttf) pairs plus the update
overrides — never the full dictionary; CLASSIFICATION with the fitted
model is fully distributed (:func:`boolean_perceptron_classify`): the
weight table is the engine's term_stats scan patched by a broadcast
override set, and the per-doc token-weight sum is two Catalyst
aggregations.

BM25NBClassifier (:func:`bm25nb_classify`) folds the same way: the
reference's per-(word, class) top-1 BM25 probe is a per-class constant
(the MUST class-term clause) float32-added to the best text BM25 score
among that class's docs — one distributed max aggregation over the
batch vocabulary's postings replaces O(words × classes) driver
searches.
"""
from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


def term_doc_pairs(searcher, terms: list[str] | None, terms_df=None):
    """DataFrame ``(term string, doc_id long)`` — one row per (exact
    term, live matching doc). The postings scan is pushed-filtered to the
    terms (the reference's per-term ``TermsEnum.postings`` walk,
    ``index/TermsEnum.java``). A ``terms_df`` is first intersected with
    the term dictionary by a left-semi join, and the surviving terms
    take the same path. Tombstoned docs are masked at decode."""
    from .search import TermSegPostings, empty_frame

    if terms_df is not None:
        # bounded by the index dictionary: only its terms survive the join
        terms = [r["term"] for r in
                 searcher.term_stats.select("term")
                 .join(terms_df.select("term"), "term", "left_semi")
                 .collect()]
    if not terms:
        return empty_frame(searcher.spark, "term string, doc_id long")

    def seg_pairs(seg_id, ctx, gids):
        out_t, out_d = [], []
        for t, r in ctx.rows.items():
            lids, _ = TermSegPostings(r).decode_all()
            if ctx.live is not None:
                lids = lids[ctx.live[lids]]
            out_t.append(np.full(len(lids), t, dtype=object))
            out_d.append(gids[lids])
        return pd.DataFrame({"term": np.concatenate(out_t),
                             "doc_id": np.concatenate(out_d)})

    return searcher.map_segments(terms, seg_pairs,
                                 "term string, doc_id long")


def _tokenize_inputs(inputs_df, input_id_col: str, text_col: str,
                     tokenize: str, stopwords: frozenset):
    """(input_id, word) token stream for unseen inputs — the reference
    tokenizes with the index analyzer (SimpleNaiveBayesClassifier
    :193-206, BM25NBClassifier :183-196); ``whitespace`` is the pure
    Catalyst path for pre-normalized corpora."""
    inputs = inputs_df.select(F.col(input_id_col).alias("input_id"),
                              F.col(text_col).alias("_text"))
    if tokenize == "whitespace":
        return (inputs
                .select("input_id",
                        F.explode(F.split(F.col("_text"), " ")).alias("word"))
                .where(F.col("word") != ""))
    # Arrow-batched columnar analyzer, same code path as the index build
    from ..functions.analysis import analyze_batch

    def _tok(batches):
        for pdf in batches:
            doc_idx, terms, _pos, _lens = analyze_batch(
                pdf["_text"], stopwords=stopwords)
            yield pd.DataFrame(
                {"input_id": pdf["input_id"].to_numpy()[doc_idx],
                 "word": terms})

    return inputs.mapInPandas(_tok, "input_id long, word string")


def naive_bayes_classify(searcher, inputs_df, class_df,
                         input_id_col: str = "input_id",
                         text_col: str = "text",
                         class_col: str = "cls",
                         tokenize: str = "analyzer",
                         stopwords: frozenset = frozenset()):
    """SimpleNaiveBayesClassifier (reference
    ``classification/SimpleNaiveBayesClassifier.java:139-286``) as one
    batch job: for every input row and every class c,

        score(i, c) = log P(c) + Σ_w log P(w | c)
                    = [ln df(c) − ln D]                    (logPrior, :279)
                    + Σ_tokens ln((hits(w, c) + 1)
                                  / (avgUnique·df(c) + D))  (logLikelihood,
                                                             :209-230)

    where D = #docs with a class value (:166), hits(w, c) = #docs
    containing word w AND class c (:255-270), and avgUnique =
    sumDocFreq / docCount of the text field (:242-251). The per-class
    denominator is constant, so Σ_tokens splits into
    ``− n_tokens(i)·ln(den_c)`` plus ``Σ_w tf(i, w)·ln(hits(w, c) + 1)``
    in which absent (w, c) pairs contribute ln(1) = 0 — the engine only
    aggregates joined pairs, exactly the add-1-smoothed reference sum.

    ``inputs_df``: (input_id, text) rows to classify; ``class_df``:
    (doc_id, cls) training labels over the indexed corpus. Returns
    ``(input_id long, cls string, score double)`` for every class, plus
    the argmax via :func:`assign_class`.

    Scale: the input batch's vocabulary is collected to the driver to
    push the postings filter (bounded by the batch, the same contract as
    any multi-term query); everything else is joins/groupBys with
    map-side partial aggregation."""
    tok = _tokenize_inputs(inputs_df, input_id_col, text_col,
                           tokenize, stopwords)
    tf = tok.groupBy("input_id", "word").agg(F.count("*").alias("tf"))
    ntok = tok.groupBy("input_id").agg(F.count("*").alias("n_tokens"))

    # small batch: driver-held vocabulary → literal pushed filter on the
    # range-bucketed postings (file-level min/max pruning); big batch:
    # intersected with the term dictionary first, so the driver holds at
    # most the index's own vocabulary
    vocab_df = tf.select("word").distinct()
    vocab = [r["word"] for r in vocab_df.limit(20001).collect()]
    labels = class_df.select(F.col("doc_id"),
                             F.col(class_col).alias("cls"))
    if len(vocab) <= 20000:
        pairs = term_doc_pairs(searcher, vocab)
    else:
        pairs = term_doc_pairs(
            searcher, None,
            terms_df=vocab_df.withColumnRenamed("word", "term"))
    hits = (pairs
            .join(labels, "doc_id")
            .groupBy(F.col("term").alias("word"), "cls")
            .agg(F.count("*").alias("hits")))

    cstats = labels.groupBy("cls").agg(F.count("*").alias("df_c"))
    dwc = labels.count()                      # countDocsWithClass (:166)
    # avg # unique terms per doc = sumDocFreq / docCount (:242-251)
    sum_df = searcher.term_stats.agg(F.sum("df")).collect()[0][0]
    avg_unique = float(sum_df) / float(searcher.doc_count)

    num = (tf.join(hits, "word")
           .groupBy("input_id", "cls")
           .agg(F.sum(F.col("tf").cast("double")
                      * F.log(F.col("hits").cast("double") + F.lit(1.0)))
                .alias("numsum")))
    den = (F.lit(avg_unique) * F.col("df_c").cast("double")
           + F.lit(float(dwc)))
    base = (ntok.crossJoin(F.broadcast(cstats))
            .select("input_id", "cls",
                    (F.log(F.col("df_c").cast("double"))
                     - F.lit(float(np.log(dwc)))
                     - F.col("n_tokens").cast("double") * F.log(den))
                    .alias("base")))
    return (base.join(num, ["input_id", "cls"], "left")
            .select("input_id", "cls",
                    (F.col("base") + F.coalesce(F.col("numsum"),
                                                F.lit(0.0))).alias("score")))


def assign_class(scores_df):
    """argmax per input (Classifier.assignClass, ties broken by class
    ascending for determinism): ``(input_id, cls, score)`` rank-1 rows."""
    from pyspark.sql import Window
    w = (Window.partitionBy("input_id")
         .orderBy(F.desc("score"), F.asc("cls")))
    return (scores_df.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1).drop("_r"))


def naive_bayes_classify_document(fields, inputs_df, class_df,
                                  input_id_col: str = "input_id",
                                  class_col: str = "cls",
                                  tokenize: str = "analyzer",
                                  stopwords: frozenset = frozenset()):
    """SimpleNaiveBayesDocumentClassifier (reference
    ``classification/document/SimpleNaiveBayesDocumentClassifier.java:
    106-137``): the multi-field NB — per class c,

        raw(i, c) = Σ_fields [ logPrior(c)
                               + boost_f · logLikelihood_f(i, c)
                                 / n_tokens_f(i) ]            (:123-131)

    with per-FIELD statistics: hits(w, c) counted in that field's index
    and avgUniqueTerms = sumDocFreq/docCount of that field (:205-214);
    unlike the string classifier the log-likelihood is NORMALIZED by the
    field's token count (:186). Scores are softmax-normalized
    (normClassificationResults, inherited).

    ``fields``: list of ``(searcher, text_col, boost)`` — one
    single-field index per field over the same doc-id space (the
    CombinedFieldQuery layout). Returns ``(input_id, cls, score)`` with
    score the 0-1 probability; argmax via :func:`assign_class`."""
    import math

    spark = fields[0][0].spark
    labels = class_df.select("doc_id", F.col(class_col).alias("cls"))
    cstats = labels.groupBy("cls").agg(F.count("*").alias("df_c"))
    dwc = labels.count()

    contribs = None
    for searcher, text_col, boost in fields:
        tok = _tokenize_inputs(inputs_df, input_id_col, text_col,
                               tokenize, stopwords)
        tf = tok.groupBy("input_id", "word").agg(F.count("*").alias("tf"))
        ntok = tok.groupBy("input_id").agg(F.count("*").alias("n_tokens"))
        vocab = [r["word"] for r in tf.select("word").distinct().collect()]
        hits = (term_doc_pairs(searcher, vocab)
                .join(labels, "doc_id")
                .groupBy(F.col("term").alias("word"), "cls")
                .agg(F.count("*").alias("hits")))
        sum_df = searcher.term_stats.agg(F.sum("df")).collect()[0][0]
        avg_unique = float(sum_df) / float(searcher.doc_count)
        num = (tf.join(hits, "word")
               .groupBy("input_id", "cls")
               .agg(F.sum(F.col("tf").cast("double")
                          * F.log(F.col("hits").cast("double") + F.lit(1.0)))
                    .alias("numsum")))
        den = (F.lit(avg_unique) * F.col("df_c").cast("double")
               + F.lit(float(dwc)))
        # logPrior + boost·(numsum − n·ln(den))/n, absent pairs numsum=0
        c = (ntok.crossJoin(F.broadcast(cstats))
             .join(num, ["input_id", "cls"], "left")
             .select("input_id", "cls",
                     (F.log(F.col("df_c").cast("double"))
                      - F.lit(float(math.log(dwc)))
                      + F.lit(float(boost))
                      * (F.coalesce(F.col("numsum"), F.lit(0.0))
                         - F.col("n_tokens").cast("double") * F.log(den))
                      / F.col("n_tokens").cast("double")).alias("contrib")))
        contribs = c if contribs is None else contribs.unionByName(c)
    raw = (contribs.groupBy("input_id", "cls")
           .agg(F.sum("contrib").alias("raw")))
    from pyspark.sql import Window
    w = Window.partitionBy("input_id")
    return (raw
            .withColumn("_m", F.max("raw").over(w))
            .withColumn("_lse",
                        F.col("_m") + F.log(F.sum(F.exp(F.col("raw")
                                                        - F.col("_m")))
                                            .over(w)))
            .select("input_id", "cls",
                    F.exp(F.col("raw") - F.col("_lse")).alias("score")))


def _mlt_boosted_clauses(searcher, text: str, boost_factor: float = 1.0,
                         max_query_terms: int = 25, min_term_freq: int = 2,
                         min_doc_freq: int = 5):
    """MoreLikeThis.like + createQuery over one field (reference
    ``queries/mlt/MoreLikeThis.java``): f32 tf·idf term selection, each
    kept term boosted ``f32(f32(boostFactor · score) / bestScore)``
    (createQuery's left-to-right float ops; bestScore = first popped =
    the MINIMUM of the kept set). Returns a tuple of boosted Q.Term."""
    from collections import Counter

    from ..functions.analysis import analyze_text
    from ..plans import query as Q

    terms, _, _ = analyze_text(text)
    tfs = Counter(terms)
    cands = sorted(t for t, f in tfs.items() if f >= min_term_freq)
    dfs = searcher._global_dfs(cands)
    N = searcher.doc_count
    scored = []
    for t in cands:
        df = dfs.get(t, 0)
        if df < min_doc_freq or df == 0:
            continue
        idf = np.float32(np.log((N + 1) / (df + 1.0)) + 1.0)
        scored.append((float(np.float32(np.float32(tfs[t]) * idf)), t))
    scored.sort(key=lambda p: (-p[0], p[1]))
    kept = scored[:max_query_terms]
    if not kept:
        return ()
    best = np.float32(min(s for s, _ in kept))
    bf = np.float32(boost_factor)
    return tuple(
        Q.Term(t, boost=float(np.float32(
            np.float32(bf * np.float32(s)) / best)))
        for s, t in kept)


def knn_classify_document(fields, class_df, k: int = 10,
                          max_query_terms: int = 25, min_term_freq: int = 2,
                          min_doc_freq: int = 5, class_col: str = "cls",
                          doc_id_col: str = "doc_id"):
    """KNearestNeighborDocumentClassifier (reference
    ``classification/document/KNearestNeighborDocumentClassifier.java:
    91-141``): per field, a boosted MLT sub-query (its own float-rounded
    BooleanQuery score); the top-level query SHOULD-sums the per-field
    float scores in double and the class-exists MUST clause is the inner
    join to the labels; top-k then the shared KNN vote
    (buildListFromTopDocs — count·(Σ score/max)/count scaled 1/k with
    the k/sumdoc correction).

    ``fields``: list of ``(searcher, text, boost_factor)`` over the same
    doc-id space. Returns ``(cls, score double, cnt int)`` ordered
    score desc, cls asc."""
    spark = fields[0][0].spark
    labels = class_df.select(doc_id_col, class_col)
    per_field = None
    for i, (searcher, text, bf) in enumerate(fields):
        clauses = _mlt_boosted_clauses(searcher, text, bf,
                                       max_query_terms, min_term_freq,
                                       min_doc_freq)
        if not clauses:
            continue
        from ..plans import query as Q
        s = (searcher.score_all(Q.Or(clauses))
             .select("doc_id", F.col("score").alias(f"_s{i}")))
        per_field = (s if per_field is None
                     else per_field.join(s, "doc_id", "full"))
    if per_field is None:
        return spark.createDataFrame([], "cls string, score double, cnt int")
    score_cols = [c for c in per_field.columns if c.startswith("_s")]
    # top-level BooleanQuery: double sum of the per-subquery float
    # scores, cast float at collect (BooleanScorer)
    total = None
    for c in score_cols:
        t = F.coalesce(F.col(c).cast("double"), F.lit(0.0))
        total = t if total is None else total + t
    hits = (per_field
            .select("doc_id", total.cast("float").alias("score"))
            .join(labels.select(F.col(doc_id_col).alias("doc_id"))
                  .distinct(), "doc_id", "left_semi")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect())
    if not hits:
        return spark.createDataFrame([], "cls string, score double, cnt int")
    max_score = np.float32(hits[0]["score"])
    rows = spark.createDataFrame(
        [(int(h["doc_id"]), float(np.float32(np.float32(h["score"])
                                             / max_score)))
         for h in hits], f"{doc_id_col} long, sboost double")
    joined = rows.join(labels, doc_id_col)
    agg = (joined.groupBy(class_col)
           .agg(F.count("*").alias("cnt"),
                F.sum("sboost").alias("boostsum")))
    sumdoc = joined.count()
    score = ((F.col("cnt") * (F.col("boostsum") / F.col("cnt")))
             / F.lit(float(k)))
    if sumdoc < k:
        score = score * F.lit(float(k)) / F.lit(float(sumdoc))
    return (agg.select(F.col(class_col).alias("cls"),
                       score.alias("score"),
                       F.col("cnt").cast("int").alias("cnt"))
            .orderBy(F.desc("score"), F.asc("cls")))


def doc_to_double_vectors(searcher, doc_ids_df, dense: bool = False):
    """DocToDoubleVectorUtils (reference
    ``classification/utils/DocToDoubleVectorUtils.java:37-92``): per-doc
    term-FREQUENCY vectors from the stored term vectors.

    * sparse (``toSparseLocalFreqDoubleArray`` :58-74): the doc's own
      distinct terms' freqs, ordered by the shared dictionary's term
      order (the reference walks one TermsEnum — term-sorted).
    * dense  (``toDenseLocalFreqDoubleArray`` :76-92): freqs over the
      WHOLE index dictionary (0 for absent terms) — same hazard as the
      reference: vector length = |V|; use sparse at scale.

    Requires ``build_index(store_term_vectors=True)``. ``doc_ids_df``:
    a (doc_id) DataFrame selecting the docs. Returns ``(doc_id, vector
    array<double>)``; sparse vectors carry a parallel ``terms`` column.
    The TV read is one pushed broadcast-join scan; counting and vector
    assembly are Catalyst aggregations (dense: an Arrow-batched kernel over
    the sorted dictionary, read on the driver with no Spark job)."""
    live = searcher.term_vectors(doc_ids_df).select("doc_id", "terms")
    tf = (live.select("doc_id", F.explode("terms").alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    if not dense:
        return (tf.groupBy("doc_id")
                .agg(F.sort_array(F.collect_list(
                    F.struct("term", "tf"))).alias("_p"))
                .select("doc_id",
                        F.expr("transform(_p, x -> x.term)").alias("terms"),
                        F.expr("transform(_p, x -> cast(x.tf as double))")
                        .alias("vector")))
    vocab = searcher._dictionary_terms("prefix", "")   # every term, sorted
    index_of = {t: i for i, t in enumerate(vocab)}
    size = len(vocab)

    def _dense(batches):
        for pdf in batches:
            out = []
            for terms in pdf["terms"]:
                v = np.zeros(size, dtype=np.float64)
                for t in terms:
                    v[index_of[t]] += 1.0
                out.append(v)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "vector": out})
    return live.mapInPandas(_dense, "doc_id long, vector array<double>")


def confusion_matrix(results_df, actual_col: str = "actual",
                     predicted_col: str = "predicted"):
    """ConfusionMatrixGenerator.getConfusionMatrix (reference
    ``classification/utils/ConfusionMatrixGenerator.java:62-150``): the
    linearized (correct answer → classified → count) matrix as one
    map-side-combined groupBy — the reference's per-doc driver loop over
    ``classifier.assignClass`` becomes a batch classify + count."""
    return (results_df
            .groupBy(F.col(actual_col).alias("actual"),
                     F.col(predicted_col).alias("predicted"))
            .agg(F.count("*").alias("cnt")))


def confusion_metrics(matrix_df):
    """ConfusionMatrix accuracy / macro precision / macro recall / F1
    (reference ``ConfusionMatrixGenerator.java:188-300``), faithful to
    the reference's formulas over the linearized matrix:

      * precision(k) = cnt(k,k) / Σ_r cnt(r,k)   (:188-211, rows r =
        actual classes in the matrix)
      * recall(k)    = cnt(k,k) / Σ_p cnt(k,p)   (:213-233)
      * tn(k)        = #rows whose map lacks key k (:273-278 — the
        reference counts a whole absent cell as ONE true negative)
      * accuracy     = (Σtp + Σtn) / (Σcol + Σfn + Σtn)   (:258-284)
      * macro p / r  = mean over matrix rows; F1 = 2pr/(p+r) (:235-250)

    Returns a single-row DataFrame ``(accuracy, precision, recall, f1,
    n_docs)``. Every step is a Catalyst aggregation over the (tiny)
    matrix — no collect."""
    m = matrix_df.select("actual", "predicted",
                         F.col("cnt").cast("double").alias("cnt"))
    rows = (m.groupBy("actual")
            .agg(F.sum("cnt").alias("row_sum"),
                 F.sum(F.when(F.col("predicted") == F.col("actual"),
                              F.col("cnt")).otherwise(0.0)).alias("tp")))
    # column sums over matrix rows, keyed by the predicted class
    cols = m.groupBy(F.col("predicted").alias("actual")) \
            .agg(F.sum("cnt").alias("col_sum"))
    # tn(k): rows with no (row, k) cell — count present cells per column
    pres = (m.where(F.col("cnt") > 0)
            .groupBy("predicted")
            .agg(F.countDistinct("actual").alias("n_present"))
            .withColumnRenamed("predicted", "actual"))
    nrows = rows.agg(F.count("*").alias("c")).select("c")
    per = (rows.join(cols, "actual", "left")
           .join(pres, "actual", "left")
           .crossJoin(F.broadcast(nrows))
           .select(
               "actual", "tp", "row_sum",
               F.coalesce(F.col("col_sum"), F.lit(0.0)).alias("col_sum"),
               (F.col("c") - F.coalesce(F.col("n_present"), F.lit(0)))
               .cast("double").alias("tn"),
               # reference guards on tp > 0, not den (:204)
               F.when(F.col("tp") > 0, F.col("tp") / F.col("col_sum"))
               .otherwise(0.0).alias("prec_k"),
               F.when(F.col("row_sum") > 0,
                      F.col("tp") / F.col("row_sum"))
               .otherwise(0.0).alias("rec_k")))
    agg = per.agg(
        F.sum("tp").alias("tp"),
        F.sum(F.col("row_sum") - F.col("tp")).alias("fn"),
        F.sum("col_sum").alias("tfp"),
        F.sum("tn").alias("tn"),
        F.avg("prec_k").alias("precision"),
        F.avg("rec_k").alias("recall"),
        F.sum("row_sum").alias("n_docs"))
    return agg.select(
        ((F.col("tp") + F.col("tn"))
         / (F.col("tfp") + F.col("fn") + F.col("tn"))).alias("accuracy"),
        "precision", "recall",
        F.when((F.col("precision") > 0) & (F.col("recall") > 0),
               2.0 * F.col("precision") * F.col("recall")
               / (F.col("precision") + F.col("recall")))
        .otherwise(0.0).alias("f1"),
        F.col("n_docs").cast("long").alias("n_docs"))


def dataset_split(df, class_col: str = "cls", test_ratio: float = 0.2,
                  cv_ratio: float = 0.0, order_col: str = "doc_id"):
    """DatasetSplitter.split (reference
    ``classification/utils/DatasetSplitter.java:90-165``): stratified
    train/test/cross-validation assignment. The reference walks classes
    grouped in index order with a GLOBAL alternating counter ``b`` and
    per-class quota counters: doc → test when ``b`` is even and the test
    quota (totalHits·testRatio, float compare) is unfilled, else → cv
    while its quota is unfilled, else → train.

    The sequential counters collapse to window cumsums: a doc is a test
    pick iff its global position is even AND the count of even positions
    before it in its class is still below the quota (every earlier even
    position was itself a test pick until the quota filled); cv is the
    same rule over the fall-through stream. ``b`` = class offset (sizes
    of classes before it, ordered by first appearance) + rank in class.

    Returns ``df`` + a ``split`` column ('test'/'cv'/'train'). One
    window per class partition + a broadcast class-offset table — scales
    to any corpus with bounded class count."""
    from pyspark.sql import Window

    cls, order = F.col(class_col), F.col(order_col)
    sizes = (df.groupBy(class_col)
             .agg(F.count("*").alias("_n"), F.min(order).alias("_first")))
    woff = (Window.orderBy("_first")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = sizes.select(class_col,
                        F.coalesce(F.sum("_n").over(woff), F.lit(0))
                        .alias("_off"),
                        F.col("_n").cast("double").alias("_tot"))
    wc = Window.partitionBy(class_col).orderBy(order)
    wprev = wc.rowsBetween(Window.unboundedPreceding, -1)
    out = (df.join(F.broadcast(offs), class_col)
           .withColumn("_b", F.col("_off") + F.row_number().over(wc) - 1)
           .withColumn("_even", (F.col("_b") % 2 == 0).cast("int"))
           .withColumn("_ecum",
                       F.coalesce(F.sum("_even").over(wprev), F.lit(0)))
           .withColumn("_test",
                       (F.col("_even") == 1)
                       & (F.col("_ecum").cast("double")
                          < F.col("_tot") * F.lit(float(test_ratio))))
           .withColumn("_ft", (~F.col("_test")).cast("int"))
           .withColumn("_ftcum",
                       F.coalesce(F.sum("_ft").over(wprev), F.lit(0)))
           .withColumn("_cv",
                       (F.col("_ft") == 1)
                       & (F.col("_ftcum").cast("double")
                          < F.col("_tot") * F.lit(float(cv_ratio))))
           .withColumn("split",
                       F.when(F.col("_test"), F.lit("test"))
                       .when(F.col("_cv"), F.lit("cv"))
                       .otherwise(F.lit("train"))))
    return out.drop("_n", "_first", "_off", "_tot", "_b", "_even",
                    "_ecum", "_test", "_ft", "_ftcum", "_cv")


def term_doc_scores(searcher, terms: list[str], similarity=None):
    """DataFrame ``(term, doc_id, score float)`` — the float32 TermQuery
    score of every live matching doc, for a whole term set in ONE
    postings scan (the reference's per-term
    ``IndexSearcher.search(TermQuery, 1)`` probes batched;
    ``search/TermScorer.java``). Weights come from the global term
    dictionary probe (TermStates.build role); the per-segment kernel is
    the same float32 ``score_block`` chain every search entry uses.

    Scale: the term list is driver-held (bounded by the caller's batch
    vocabulary — the same contract as any multi-term query); postings
    are pushed-filtered, scoring is map-side, nothing shuffles but the
    emitted (term, doc, score) rows."""
    from ..functions import bm25
    from .search import TermSegPostings, empty_frame

    schema = "term string, doc_id long, score float"
    if not terms:
        return empty_frame(searcher.spark, schema)
    terms = sorted(set(terms))
    sim = similarity or searcher.similarity
    dfs, ttfs = searcher._global_stats(terms)
    doc_count = searcher.doc_count
    avgdl = bm25.avg_field_length(searcher.sum_ttf, doc_count)
    cache = sim.norm_cache(avgdl)
    weights = {t: sim.weight(df, doc_count, 1.0, ttfs.get(t, 0),
                             searcher.sum_ttf)
               for t, df in dfs.items()}

    def seg_scores(seg_id, ctx, gids):
        out = []
        for t, r in ctx.rows.items():
            lids, tfs = TermSegPostings(r).decode_all()
            if ctx.live is not None:
                keep = ctx.live[lids]
                lids, tfs = lids[keep], tfs[keep]
            s = bm25.score_block(tfs, ctx.norms[lids], weights[t], cache)
            out.append(pd.DataFrame(
                {"term": np.full(len(lids), t, dtype=object),
                 "doc_id": gids[lids], "score": s}))
        return pd.concat(out)

    return searcher.map_segments(terms, seg_scores, schema, cache, sim)


def bm25nb_classify(searcher, inputs_df, class_df,
                    input_id_col: str = "input_id", text_col: str = "text",
                    class_col: str = "cls", tokenize: str = "analyzer",
                    stopwords: frozenset = frozenset()):
    """BM25NBClassifier (reference
    ``classification/BM25NBClassifier.java:120-230``) as one batch job.
    For every input i and class c,

        raw(i, c) = logPrior(c) + Σ_tokens ln P(w | c)

    where logPrior(c) = ln(top-1 score of MUST(class:c))      (:225-230)
    and   P(w | c)    = top-1 score of
                        MUST(class:c) SHOULD(text:w)          (:206-221),
    then the per-input scores are softmax-normalized
    (normClassificationResults :147-173) — the returned ``score`` is the
    0-1 probability.

    The class label is modeled as a keyword-indexed field (one token per
    labeled doc): its df is the class size, every doc length is 1 and
    avgdl = 1, so the MUST clause's BM25 score is a per-class CONSTANT
    ``const_c`` and the reference's ReqOptSumScorer float32 sum
    (``search/ReqOptSumScorer.java:260-274``) makes the boolean top-1

        f32(const_c + max over class-c docs of BM25(text:w, doc))

    — the O(words × classes) driver probes collapse into
    :func:`term_doc_scores` joined to the labels with one
    map-side-combined max aggregation. A (w, c) pair with no co-occurring
    doc scores exactly const_c (the SHOULD clause contributes nothing),
    so the log-likelihood splits into ``n_tokens·ln(const_c)`` plus joined
    corrections, mirroring :func:`naive_bayes_classify`'s add-1 split.

    Returns ``(input_id long, cls string, score double)`` for every
    class; argmax via :func:`assign_class` (ties → class asc, the
    reference's stable sort over class-term order)."""
    import math

    from ..functions import bm25
    from ..functions.similarity import BM25Similarity
    from ..functions.smallfloat import int_to_byte4

    sim = BM25Similarity()   # the reference hardcodes BM25 (:88)
    tok = _tokenize_inputs(inputs_df, input_id_col, text_col,
                           tokenize, stopwords)
    tf = tok.groupBy("input_id", "word").agg(F.count("*").alias("tf"))
    ntok = tok.groupBy("input_id").agg(F.count("*").alias("n_tokens"))
    labels = class_df.select("doc_id", F.col(class_col).alias("cls"))

    # per-class constant: BM25 of the class term over the label field
    # (df = class size, tf = 1, dl = 1, avgdl = 1)
    cstats = labels.groupBy("cls").agg(F.count("*").alias("df_c")).collect()
    dwc = sum(int(r["df_c"]) for r in cstats)
    class_cache = sim.norm_cache(np.float32(1.0))
    nb1 = np.array([int(int_to_byte4(np.array([1]))[0])], dtype=np.int64)
    one_tf = np.array([1], dtype=np.int64)
    consts = []
    for r in cstats:
        w_c = sim.weight(int(r["df_c"]), dwc)
        const_c = float(bm25.score_block(one_tf, nb1, w_c, class_cache)[0])
        consts.append((r["cls"], const_c, math.log(const_c)))
    cdf = searcher.spark.createDataFrame(
        consts, "cls string, const_c double, log_const double")

    vocab = [r["word"] for r in tf.select("word").distinct().collect()]
    best = (term_doc_scores(searcher, vocab, similarity=sim)
            .join(labels, "doc_id")
            .groupBy(F.col("term").alias("word"), "cls")
            .agg(F.max("score").alias("best")))

    # Σ tf · (ln f32(const_c + best) − ln const_c) for joined pairs
    corr = (tf.join(best, "word")
            .join(F.broadcast(cdf), "cls")
            .groupBy("input_id", "cls")
            .agg(F.sum(
                F.col("tf").cast("double")
                * (F.log((F.col("const_c")
                          + F.col("best").cast("double")).cast("float")
                         .cast("double"))
                   - F.col("log_const"))).alias("corr")))
    raw = (ntok.crossJoin(F.broadcast(cdf))
           .join(corr, ["input_id", "cls"], "left")
           .select("input_id", "cls",
                   (F.col("log_const")
                    * (F.col("n_tokens").cast("double") + F.lit(1.0))
                    + F.coalesce(F.col("corr"), F.lit(0.0))).alias("raw")))
    # softmax per input (log-sum-exp, :147-173)
    from pyspark.sql import Window
    w = Window.partitionBy("input_id")
    return (raw
            .withColumn("_m", F.max("raw").over(w))
            .withColumn("_lse",
                        F.col("_m") + F.log(F.sum(F.exp(F.col("raw")
                                                        - F.col("_m")))
                                            .over(w)))
            .select("input_id", "cls",
                    F.exp(F.col("raw") - F.col("_lse")).alias("score")))


def knn_fuzzy_classify(searcher, docs_df, doc_id: int, class_df,
                       class_col: str = "cls", k: int = 10,
                       max_query_terms: int = 25, min_term_freq: int = 2,
                       min_doc_freq: int = 5, max_edits: int = 2):
    """KNearestFuzzyClassifier (reference
    ``classification/KNearestFuzzyClassifier.java``): like
    :func:`knn_classify` but the seed doc's interesting terms are
    FUZZIFIED — each becomes a blended FuzzyQuery (the reference's
    FuzzyLikeThisQuery role, maxEdits=2 default) before the SHOULD
    union, so near-misspellings in the corpus still vote."""
    from pyspark.sql import Window

    from ..plans import query as Q
    from .mlt import interesting_terms

    row = (docs_df.filter(F.col("doc_id") == doc_id)
           .select("text").limit(1).collect())
    if not row:
        raise ValueError(f"doc {doc_id} not found")
    sel = interesting_terms(searcher, row[0][0], max_query_terms,
                            min_term_freq, min_doc_freq)
    if not sel:
        raise ValueError("no interesting terms")
    q = Q.Or(tuple(Q.MultiTerm("fuzzy", t, edits=max_edits, scored=True)
                   for t, _ in sel))
    top = searcher.search(q, k=k)
    labels = class_df.select("doc_id", F.col(class_col).alias("cls"))
    hits = top.join(labels, "doc_id")
    maxs = top.agg(F.max(F.col("score").cast("double")).alias("m"))
    sumdoc = hits.count()
    denom = float(k) if sumdoc >= k else float(max(sumdoc, 1))
    votes = (hits.crossJoin(F.broadcast(maxs))
             .groupBy("cls")
             .agg((F.sum(F.col("score").cast("double") / F.col("m"))
                   / F.lit(denom)).alias("score")))
    w = Window.orderBy(F.desc("score"), F.asc("cls"))
    return votes.withColumn("rank", F.row_number().over(w))


def knn_classify(searcher, docs_df, doc_id: int, class_df,
                 class_col: str = "cls", k: int = 10,
                 max_query_terms: int = 25, min_term_freq: int = 2,
                 min_doc_freq: int = 5):
    """KNearestNeighborClassifier (reference
    ``classification/KNearestNeighborClassifier.java:154-236``): MLT
    query from the seed doc's text → top-k hits → class vote. Per class:
    count and Σ(score / maxScore) over its hits; vote =
    (count · (boostSum / count)) / k = boostSum / k, rescaled by
    k / sumdoc when fewer than k labeled hits (:224-231) — i.e.
    boostSum / min(k, sumdoc). Divergence note: the MLT query is this
    repo's unboosted interesting-terms OR (``operators/mlt.py``); the
    reference boosts each term by its selection score.

    Returns ``(cls string, score double, rank int)`` ordered by the
    vote (desc, class asc)."""
    from pyspark.sql import Window
    from .mlt import more_like_this

    top = more_like_this(searcher, docs_df, doc_id, k=k,
                         max_query_terms=max_query_terms,
                         min_term_freq=min_term_freq,
                         min_doc_freq=min_doc_freq)
    labels = class_df.select("doc_id", F.col(class_col).alias("cls"))
    hits = top.join(labels, "doc_id")          # ≤ k rows from here on
    # maxScore is the top hit's score whether or not it carries a label
    # (:193 — topDocs.scoreDocs[0].score)
    maxs = top.agg(F.max(F.col("score").cast("double")).alias("m"))
    sumdoc = hits.count()
    denom = float(k) if sumdoc >= k else float(sumdoc)
    votes = (hits.crossJoin(F.broadcast(maxs))
             .groupBy("cls")
             .agg((F.sum(F.col("score").cast("double") / F.col("m"))
                   / F.lit(denom)).alias("score")))
    w = Window.orderBy(F.desc("score"), F.asc("cls"))
    return votes.withColumn("rank", F.row_number().over(w))


def knn_classify_text(searcher, classes_df, text: str, k: int = 10,
                      max_query_terms: int = 25, min_term_freq: int = 2,
                      min_doc_freq: int = 5, class_col: str = "cls",
                      doc_id_col: str = "doc_id"):
    """KNearestNeighborClassifier.getClasses (reference
    ``classification/KNearestNeighborClassifier.java:96-214``): MLT the
    input text (boosted terms — MoreLikeThis.createQuery normalizes each
    selection score by the FIRST popped queue entry, i.e. the MINIMUM of
    the selected set, ``queries/mlt/MoreLikeThis.java:createQuery``),
    take the top-``k`` neighbors, then score each class
    ``(count · (Σ score/maxScore)/count) / k`` with the reference's
    ``× k/sumdoc`` correction when fewer than k docs carry a class
    (``:160-170``). Float32 term selection and boosts like the
    reference's float math; double class aggregation, deterministic
    (class ties by name ascending — the reference's HashMap order is
    unspecified).

    Returns a DataFrame ``(cls, score double, cnt int)`` ordered
    score desc, cls asc. The reference's ``class MUST exist`` clause is
    the inner join to ``classes_df``.
    """
    import numpy as np

    from ..functions.analysis import analyze_text
    from ..plans import query as Q
    from collections import Counter

    terms, _, _ = analyze_text(text)
    tfs = Counter(terms)
    cands = sorted(t for t, f in tfs.items() if f >= min_term_freq)
    dfs = searcher._global_dfs(cands)
    N = searcher.doc_count
    scored = []
    for t in cands:
        df = dfs.get(t, 0)
        if df < min_doc_freq or df == 0:
            continue
        idf = np.float32(np.log((N + 1) / (df + 1.0)) + 1.0)
        scored.append((float(np.float32(np.float32(tfs[t]) * idf)), t))
    scored.sort(key=lambda p: (-p[0], p[1]))
    kept = scored[:max_query_terms]
    if not kept:
        return searcher.spark.createDataFrame(
            [], "cls string, score double, cnt int")
    min_score = np.float32(min(s for s, _ in kept))
    clauses = tuple(Q.Term(t, boost=float(np.float32(np.float32(s)
                                                     / min_score)))
                    for s, t in kept)
    hits = searcher.search(Q.Or(clauses), k=k).collect()
    if not hits:
        return searcher.spark.createDataFrame(
            [], "cls string, score double, cnt int")
    max_score = np.float32(hits[0]["score"])
    rows = searcher.spark.createDataFrame(
        [(int(h["doc_id"]), float(np.float32(np.float32(h["score"])
                                             / max_score)))
         for h in hits], f"{doc_id_col} long, sboost double")
    joined = rows.join(
        classes_df.select(doc_id_col, class_col), doc_id_col)
    agg = (joined.groupBy(class_col)
           .agg(F.count("*").alias("cnt"),
                F.sum("sboost").alias("boostsum")))
    sumdoc = joined.count()
    score = ((F.col("cnt") * (F.col("boostsum") / F.col("cnt")))
             / F.lit(float(k)))
    if sumdoc < k:
        # the reference's correction multiplies THEN divides (:166-168)
        score = score * F.lit(float(k)) / F.lit(float(sumdoc))
    return (agg.select(F.col(class_col).alias("cls"),
                       score.alias("score"),
                       F.col("cnt").cast("int").alias("cnt"))
            .orderBy(F.desc("score"), F.asc("cls")))


def boolean_perceptron_train(searcher, train_df, batch_size: int = 1,
                             bias: float | None = None,
                             doc_id_col: str = "doc_id",
                             text_col: str = "text",
                             cls_col: str = "cls",
                             tokenize: str = "whitespace"):
    """BooleanPerceptronClassifier model fitting (reference
    ``classification/BooleanPerceptronClassifier.java:79-215``): weights
    initialize to each term's global totalTermFreq (:117-121), bias
    defaults to sumTotalTermFreq / docCount (:97-112), and training
    walks the labeled docs in docID order (the constant-score
    ``WildcardQuery(class, *)`` search at :128-136 ties on score, so
    scoreDocs come back in doc order). Per doc: assign with the CURRENT
    compiled FST, ``modifier = correct.compareTo(assigned)``; on a
    misclassification every distinct doc term gets
    ``max(0, fstValue + modifier · termFreqInDoc)`` — reading the LAST
    COMPILED value, not the live weights map (:192-196) — and the FST
    recompiles only when ``batchCount % batchSize == 0`` (:158,199-201).
    The final model is the last compiled FST, so with
    ``batch_size > len(train)`` only doc 0's update (if any) ever
    reaches it — a faithful quirk, preserved.

    Sequential by the reference's own construction; runs on the driver
    over the (small) labeled training set. Driver state is the train
    vocabulary's (term, ttf) pairs — fetched with one broadcast
    semi-join against term_stats, no full-dictionary collect — plus the
    override map. Values are FST longs (``entry.getValue().longValue()``
    at :212; all-integer arithmetic, so plain ints here).

    ``train_df``: (doc_id, text, cls) with boolean-castable cls.
    Returns ``(overrides: dict[str, int], bias: float)`` — the model for
    :func:`boolean_perceptron_classify`; a term's weight is
    ``overrides.get(term, global_ttf(term))``."""
    from collections import Counter

    if tokenize == "whitespace":
        def toks_of(t: str) -> list[str]:
            return [w for w in t.split(" ") if w]
    elif tokenize == "analyzer":
        from ..functions.analysis import analyze_text

        def toks_of(t: str) -> list[str]:
            return list(analyze_text(t)[0])
    else:
        raise ValueError(f"unknown tokenize mode {tokenize!r}")

    rows = (train_df.select(F.col(doc_id_col).alias("_d"),
                            F.col(text_col).alias("_t"),
                            F.col(cls_col).cast("boolean").alias("_c"))
            .orderBy("_d").collect())
    doc_toks = [toks_of(r["_t"]) for r in rows]
    vocab = sorted({w for toks in doc_toks for w in toks})
    if vocab:
        vdf = searcher.spark.createDataFrame([(t,) for t in vocab],
                                             "term string")
        ttfs = {r["term"]: int(r["ttf"]) for r in
                (searcher.term_stats.join(F.broadcast(vdf), "term")
                 .select("term", "ttf").collect())}
    else:
        ttfs = {}
    if bias is None or bias == 0.0:
        bias = float(searcher.sum_ttf) / float(searcher.doc_count)
    bias = float(bias)

    fst_over: dict[str, int] = {}   # last compiled FST, as ttf overrides
    w_over: dict[str, int] = {}     # live weights map, as ttf overrides
    batch_count = 0
    for r, toks in zip(rows, doc_toks):
        output = 0
        for t in toks:
            d = fst_over.get(t, ttfs.get(t))
            if d is not None:
                output += d
        assigned = output >= bias
        modifier = int(bool(r["_c"])) - int(assigned)
        if modifier != 0:
            tfl = Counter(toks)
            for t in sorted(tfl):
                prev = fst_over.get(t, ttfs.get(t))
                w_over[t] = (0 if prev is None
                             else max(0, prev + modifier * tfl[t]))
            if batch_count % batch_size == 0:
                fst_over = dict(w_over)
        batch_count += 1
    return fst_over, bias


def boolean_perceptron_classify(searcher, inputs_df, model,
                                input_id_col: str = "input_id",
                                text_col: str = "text",
                                tokenize: str = "whitespace",
                                stopwords: frozenset = frozenset()):
    """BooleanPerceptronClassifier.assignClass as one batch job
    (reference ``classification/BooleanPerceptronClassifier.java:
    218-235``): per input, ``output = Σ fst(token)`` over every token
    occurrence (absent terms skipped = +0), assigned class
    ``output >= bias``, confidence
    ``1 − exp(−|bias − output| / bias)``.

    Distributed shape: the weight table is the term_stats scan with the
    trained override set (small, broadcast) patched in via one
    anti-join + union; inputs explode to (input_id, term, tf) with a
    map-side-combined count, one inner join on term picks up weights
    (absent terms drop = the reference's null skip), and one final
    groupBy sums — inputs with no known term re-enter through a left
    join with output 0, exactly the reference's empty-sum path. No
    driver loops, no UDF on the whitespace path.

    Returns ``(input_id long, output long, assigned boolean,
    score double)``."""
    overrides, bias = model
    spark = searcher.spark
    w0 = searcher.term_stats.select(
        "term", F.col("ttf").cast("long").alias("w"))
    if overrides:
        odf = spark.createDataFrame(sorted(overrides.items()),
                                    "term string, w long")
        w_full = (w0.join(F.broadcast(odf.select("term")),
                          "term", "left_anti").unionByName(odf))
    else:
        w_full = w0
    inputs = inputs_df.select(F.col(input_id_col).alias("input_id"),
                              F.col(text_col).alias("_text"))
    if tokenize == "whitespace":
        tok = (inputs
               .select("input_id",
                       F.explode(F.split(F.col("_text"), " "))
                       .alias("term"))
               .where(F.col("term") != ""))
    elif tokenize == "analyzer":
        from ..functions.analysis import analyze_batch

        def _tok(batches):
            for pdf in batches:
                doc_idx, terms, _pos, _lens = analyze_batch(
                    pdf["_text"], stopwords=stopwords)
                yield pd.DataFrame(
                    {"input_id": pdf["input_id"].to_numpy()[doc_idx],
                     "term": terms})

        tok = inputs.mapInPandas(_tok, "input_id long, term string")
    else:
        raise ValueError(f"unknown tokenize mode {tokenize!r}")
    tfs = tok.groupBy("input_id", "term").agg(F.count("*").alias("tf"))
    summed = (tfs.join(w_full, "term")
              .groupBy("input_id")
              .agg(F.sum(F.col("tf") * F.col("w")).alias("output")))
    b = F.lit(float(bias))
    out = (inputs.select("input_id").distinct()
           .join(summed, "input_id", "left")
           .select("input_id",
                   F.coalesce(F.col("output"), F.lit(0)).cast("long")
                   .alias("output")))
    return out.select(
        "input_id", "output",
        (F.col("output").cast("double") >= b).alias("assigned"),
        (F.lit(1.0) - F.exp(-F.abs(b - F.col("output").cast("double")) / b))
        .alias("score"))
