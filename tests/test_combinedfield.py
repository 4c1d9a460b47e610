"""CombinedFieldQuery (BM25F) — engine vs an independent numpy oracle.

Reference semantics under test: ``sandbox/.../search/CombinedFieldQuery
.java:328-370`` (pseudo term/collection stats), ``:452-489`` (weighted
freq sum), ``MultiNormsLeafSimScorer.java`` (weighted norm sum through
the byte4 re-quantization cycle).
"""

import os
import tempfile

import numpy as np
import pytest

from lucene_spark.functions import bm25
from lucene_spark.functions.analysis import analyze_text
from lucene_spark.functions.smallfloat import byte4_to_int, int_to_byte4
from lucene_spark.operators.build import build_index
from lucene_spark.operators.combinedfield import combined_field_topk
from lucene_spark.operators.search import Searcher
from lucene_spark.plans import query as Q
from lucene_spark.sources.corpus import generate_corpus


def _split_fields(pdf, n_title=3):
    """Deterministic title/body split of the synthetic corpus."""
    toks = pdf.content.str.split(" ")
    title = toks.str[:n_title].str.join(" ")
    body = toks.str[n_title:].str.join(" ")
    return title, body


@pytest.fixture(scope="module")
def two_field_indexes(spark):
    pdf = generate_corpus(400, seed=31)
    title, body = _split_fields(pdf)
    tmp = tempfile.mkdtemp(prefix="cfq_")
    dirs = {}
    for name, col in (("title", title), ("body", body)):
        d = os.path.join(tmp, name)
        df = spark.createDataFrame(
            pdf.assign(content=col)[["doc_id", "content"]])
        build_index(spark, df, d, num_segments=8)
        dirs[name] = d
    return pdf, dirs


def _oracle_combined(pdf, fields_weights, term, k1=1.2, b=0.75):
    """Independent float32-faithful reimplementation from raw text."""
    per_field = []
    for texts, w in fields_weights:
        stats = []
        for t in texts:
            terms, _, n = analyze_text(t)
            stats.append((terms.count(term), n))
        per_field.append((np.float32(w),
                          np.array([s[0] for s in stats], np.int64),
                          np.array([s[1] for s in stats], np.int64)))
    doc_count = len(pdf)
    df_pseudo = max(int((tfs > 0).sum()) for _, tfs, _ in per_field)
    sum_ttf = 0
    for w, _tfs, dls in per_field:
        sum_ttf = int(sum_ttf + float(w) * int(dls.sum()))
    idf = bm25.idf(df_pseudo, doc_count)
    avgdl = bm25.avg_field_length(sum_ttf, doc_count)
    cache = bm25.norm_inverse_cache(avgdl, k1, b)
    comb_len = np.zeros(doc_count, dtype=np.float32)
    freq = np.zeros(doc_count, dtype=np.float32)
    for w, tfs, dls in per_field:
        qlen = byte4_to_int(int_to_byte4(dls)).astype(np.float32)
        comb_len += w * qlen
        freq += w * tfs.astype(np.float32)
    nb = int_to_byte4(np.floor(comb_len + np.float32(0.5)).astype(np.int64))
    scores = bm25.score_block(freq, nb.astype(np.int64), idf, cache)
    hits = [(float(s), int(d)) for s, d, f
            in zip(scores, pdf.doc_id, freq) if f > 0]
    hits.sort(key=lambda x: (-x[0], x[1]))
    return hits


def test_combined_matches_oracle(spark, two_field_indexes):
    pdf, dirs = two_field_indexes
    title, body = _split_fields(pdf)
    s_title = Searcher(spark, dirs["title"])
    s_body = Searcher(spark, dirs["body"])
    for term, weights in [("parse", (2.0, 1.0)), ("token", (1.0, 1.0)),
                          ("index", (3.0, 1.0))]:
        got = combined_field_topk(
            spark, [(s_title, weights[0]), (s_body, weights[1])],
            term, k=10).collect()
        exp = _oracle_combined(
            pdf, [(title, weights[0]), (body, weights[1])], term)[:10]
        assert [(r["doc_id"]) for r in got] == [d for _, d in exp], term
        for r, (es, _) in zip(got, exp):
            assert r["score"] == pytest.approx(es, abs=0), \
                (term, r["doc_id"])  # float32-exact


def test_single_field_weight1_equals_term_query(spark, two_field_indexes):
    """CombinedFieldQuery over ONE field with weight 1 must reduce to the
    plain BM25 TermQuery: same pseudo-stats, freq=tf, and the norm
    re-quantization cycle is the identity on already-quantized bytes."""
    _, dirs = two_field_indexes
    s_body = Searcher(spark, dirs["body"])
    got = combined_field_topk(spark, [(s_body, 1.0)], "merge",
                              k=10).collect()
    ref = s_body.search(Q.Term("merge"), k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] \
        == [(r["doc_id"], r["score"]) for r in ref]


def test_missing_term_returns_empty(spark, two_field_indexes):
    _, dirs = two_field_indexes
    s_title = Searcher(spark, dirs["title"])
    assert combined_field_topk(spark, [(s_title, 1.0)],
                               "zzz_absent", k=5).count() == 0


def test_deletes_mask_combined(spark, two_field_indexes):
    """Tombstones from EITHER field index mask the combined result
    (one logical index — deletes are global in the reference)."""
    from lucene_spark.operators.delete import delete_by_ids, \
        locate_global_ids
    from lucene_spark.sources.catalog import SnapshotCatalog
    pdf, dirs = two_field_indexes
    s_title = Searcher(spark, dirs["title"])
    s_body = Searcher(spark, dirs["body"])
    base = combined_field_topk(
        spark, [(s_title, 2.0), (s_body, 1.0)], "parse", k=5).collect()
    victim = int(base[0]["doc_id"])
    cat = SnapshotCatalog(dirs["body"])
    delete_by_ids(spark, dirs["body"],
                  locate_global_ids(cat, cat.load(), [victim], spark))
    s_body2 = Searcher(spark, dirs["body"])
    after = combined_field_topk(
        spark, [(s_title, 2.0), (s_body2, 1.0)], "parse", k=5).collect()
    assert victim not in [r["doc_id"] for r in after]
    assert after[0]["doc_id"] == base[1]["doc_id"]
    assert after[0]["score"] == base[1]["score"]


def test_combined_runs_one_job(spark_jobs, spark, two_field_indexes):
    """The pseudo stats are driver reads and the top-k merges on the
    driver, so one call runs exactly one Spark job: the segment fan-out."""
    _, dirs = two_field_indexes
    s_title = Searcher(spark, dirs["title"])
    s_body = Searcher(spark, dirs["body"])
    rows, jobs = spark_jobs("cfq-one-job", lambda: combined_field_topk(
        spark, [(s_title, 2.0), (s_body, 1.0)], "parse", k=10).collect())
    assert len(rows) == 10
    assert len(jobs) == 1
