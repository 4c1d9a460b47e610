"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship BM25 conjunction search end-to-end over
the sf0.001 documents table. ``queries()`` exposes every implemented
operator from SURVEY.md §2 plus the training-data pipeline operators;
``oracle_sql()`` gives DuckDB-equivalent SQL for each.

The BM25 oracles reproduce the engine's float32 semantics *bit-exactly* in
SQL: DuckDB ``FLOAT`` arithmetic is true float32, so every scoring step
(SmallFloat norm quantization via an inline LUT, idf in float64 cast to
float32, the 256-entry norm-inverse cache, ``w - w/(1 + tf*inv)``) is
mirrored with explicit casts in the reference operation order
(reference ``similarities/BM25Similarity.java:104-266``). Scores are then
projected to fixed-point (floor(x*10^4)) on both sides — floor
on identical binary doubles is engine-independent, unlike round().
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lucene_spark.functions.smallfloat import byte4_to_int
from lucene_spark.operators import facets, mlt, suggest
from lucene_spark.operators.build import build_index
from lucene_spark.operators.highlight import highlight
from lucene_spark.operators.search import Searcher
from lucene_spark.operators.stats import term_stats_from_tokens
from lucene_spark.pipeline import dedup, multimodal, simsearch, textstats
from lucene_spark.plans import query as Q

_INDEX_VERSION = "v7"   # bump on codec/format changes to drop cached builds
_SEGMENTS = 8
_BUILT: dict[str, str] = {}


# ---------------------------------------------------------------------------
# Index build/cache over the documents table
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _searcher(spark: SparkSession, sf_dir: str) -> Searcher:
    """Build (once per sf_dir, resumable on disk) and open the index over
    ``documents.text``. The text column is pre-normalized lowercase ASCII,
    so the analyzer reduces to whitespace tokenization — identical to the
    oracle's ``string_split``."""
    key = os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _searcher_syn(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with an index-time SynonymGraphFilter map
    (T_THIRD → T_COMMON, keepOrig, posInc=0 overlaps): tf/df/ttf and
    avgdl include the overlap tokens; norms discount them
    (BM25Similarity discountOverlaps default)."""
    key = "syn:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    synonyms={T_THIRD: (T_COMMON,)})
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_synonym_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fmt_topk(_searcher_syn(spark, sf_dir).search(
        Q.Term(T_COMMON), k=10))


def _searcher_shingle(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with an index-time ShingleFilter (bigrams,
    outputUnigrams=true): shingle tokens are posInc=0 overlaps that
    count in tf/df/ttf and avgdl; norms discount them
    (discountOverlaps default)."""
    key = "shingle:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    shingles=(2, 2))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _searcher_cgrams(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with CommonGramsFilter (common set {'the'}): pairs
    around 'the' emit '_'-joined posInc=0 gram overlaps."""
    key = "cgrams:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    common_grams=frozenset({"the"}))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_common_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CommonGramsFilter build (``analysis/common/.../commongrams/
    CommonGramsFilter.java``): the 'the_agg' gram scores as a plain
    TermQuery over the expanded stream's stats."""
    return _fmt_topk(_searcher_cgrams(spark, sf_dir).search(
        Q.Term("the_agg"), k=10))


def _q_shingle_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ShingleFilter build (``analysis/common/.../shingle/ShingleFilter
    .java:61``): the bigram shingle scores as a plain TermQuery over the
    expanded stream's stats."""
    return _fmt_topk(_searcher_shingle(spark, sf_dir).search(
        Q.Term("part filter"), k=10))


def _searcher_stem_de(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with the UniNE German light stemmer in the chain
    (``analysis/common/.../de/GermanLightStemmer.java``; Savoy SAC 2006)
    — vocabulary-level stemming inside the analyzer Arrow UDF."""
    key = "stemde:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    stemmer="german_light")
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


# surface forms in the corpus conflate under the German light stemmer:
# filter/filters -> filt, customer -> custom, order -> ord, table -> tabl
_STEM_DE_TERMS = ("filt", "custom", "ord", "tabl", "valu", "merg")


def _q_stem_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery over a light-stemmed index: 'filt' matches every
    doc whose surface text had filter/filters/filtere..."""
    return _fmt_topk(_searcher_stem_de(spark, sf_dir).search(
        Q.Term("filt"), k=10))


def _q_stem_de_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df/ttf of stemmed dictionary entries — exercises the whole
    stemmed vocabulary build, not just one posting list."""
    s = _searcher_stem_de(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").isin(list(_STEM_DE_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _searcher_kr_de(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with the KeywordRepeat → GermanLightStem →
    RemoveDuplicates chain (``miscellaneous/KeywordRepeatFilter.java``,
    ``miscellaneous/RemoveDuplicatesTokenFilter.java``): surface forms
    keep their positions, changed stems overlay as posInc-0 tokens."""
    key = "krde:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    stemmer="german_light", keyword_repeat=True)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


# surface/stem pairs that conflate under the German light stemmer —
# both forms are live dictionary entries in the keyword-repeat index
_KR_DE_TERMS = ("filter", "filt", "customer", "custom",
                "order", "ord", "table", "tabl")


def _q_kr_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery for the stem 'filt' over the keyword-repeat index:
    tf/df match the stemmed-only index, but sumTotalTermFreq counts the
    overlay copies (every emitted token), so avgdl — and the scores —
    differ from bm25_stem_de_top10."""
    return _fmt_topk(_searcher_kr_de(spark, sf_dir).search(
        Q.Term("filt"), k=10))


def _q_kr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df/ttf of surface AND stem dictionary entries — both alive in the
    keyword-repeat index."""
    s = _searcher_kr_de(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").isin(list(_KR_DE_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _searcher_pattern_tok(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with PatternTokenizer in group mode
    (``pattern/PatternTokenizer.java``, group=0 over ``[a-z]+``):
    deterministic injection prefixes every d-initial token with 'q9'
    ('data' → 'q9data'), which the alpha-run pattern splits back into
    TWO tokens ('q', 'data') — non-vacuous tokenization the whitespace
    oracle must mirror with regexp_extract_all."""
    key = "pattok:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.regexp_replace(F.col("text"), r"(^| )(d)", "$1q9$2")
            .alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    tokenizer=("pattern", "[a-z]+", 0))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


# literals (T_COMMON etc. are defined further down the module)
_PATTERN_TOK_TERMS = ("q", "data", "dup", "query", "stream")


def _q_pattern_tok_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery('q') over the pattern-tokenized index — 'q' only
    exists because the tokenizer split the injected 'q9' prefix off."""
    return _fmt_topk(_searcher_pattern_tok(spark, sf_dir).search(
        Q.Term("q"), k=10))


def _q_pattern_tok_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher_pattern_tok(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").isin(list(_PATTERN_TOK_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _searcher_pattern_replace(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with PatternReplaceFilter
    (``pattern/PatternReplaceFilter.java``): deterministic injection
    appends '9' to every t-initial token ('table' → 'table9'), the
    filter strips trailing digits (``\\d+$`` → ''), so matching requires
    the whole inject → tokenize → replace chain to round-trip."""
    key = "patrep:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.regexp_replace(F.col("text"), r"(^| )(t[a-z]*)", "$1$29")
            .alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    pattern_replace=(r"\d+$", "", True))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_pattern_replace_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fmt_topk(_searcher_pattern_replace(spark, sf_dir).search(
        Q.Term("table"), k=10))


_COMPOUND_WORDS = frozenset(["scan", "index", "table"])


def _searcher_compound(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with DictionaryCompoundWordTokenFilter
    (``compound/DictionaryCompoundWordTokenFilter.java``): docs with
    doc_id % 7 == 0 get the compound token 'scanindextable' prepended;
    the filter overlays scan/index/table at its position. The dictionary
    also hits ordinary corpus tokens — any ≥5-char token containing a
    dictionary word as a substring gets the overlay, including the
    faithful self-re-emission of 'index'/'table' themselves."""
    key = "compound:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit("scanindextable "), F.col("text")))
            .otherwise(F.col("text")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    dictionary_compound=_COMPOUND_WORDS)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_compound_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery('scan') over the compound-decomposed index —
    matches surface scans AND the subword overlays inside compounds."""
    return _fmt_topk(_searcher_compound(spark, sf_dir).search(
        Q.Term("scan"), k=10))


def _q_compound_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher_compound(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(["scan", "index", "table",
                                        "scanindextable"]))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


_HTML_MARKER_TERMS = ("zqmapped", "zqtail", "data",
                      "zqscript", "zqcomment", "div")


def _searcher_html_strip(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with the char-filter chain HTMLStripCharFilter →
    MappingCharFilter (``charfilter/HTMLStripCharFilter.jflex``,
    ``charfilter/MappingCharFilter.java``): every doc is wrapped in real
    markup — a block tag, an inline tag, a script element, a comment,
    and a numeric character entity — and stripped back at index time.
    Surviving tokens = the original text + the decoded-entity token
    'zqxyz' (rewritten to 'zqmapped' by the mapping filter) + the
    inline-tag body 'zqtail'; 'zqscript'/'zqcomment'/'div' must NOT
    reach the dictionary. Norms/avgdl shift by the two extra tokens, so
    the scores only match if the whole wrap → strip → map chain
    round-trips exactly."""
    key = "htmlstrip:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(F.lit('<div class="zq">'), F.col("text"),
                     F.lit('</div><script type="text/javascript">'
                           'zqscript();</script><!-- zqcomment -->'
                           ' zq&#120;yz <i>zqtail</i>')).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    char_filters=(("html_strip",),
                                  ("mapping", (("zqxyz", "zqmapped"),))))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_html_strip_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery over the HTML-stripped index — tf/df of 'data'
    are the clean corpus values but dl/avgdl include the two marker
    tokens the strip left behind."""
    return _fmt_topk(_searcher_html_strip(spark, sf_dir).search(
        Q.Term("data"), k=10))


def _q_html_strip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher_html_strip(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(list(_HTML_MARKER_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _searcher_reversed(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with ReverseStringFilter
    (``analysis/common/.../reverse/ReverseStringFilter.java``,
    ``reverse_tokens=True``): the dictionary holds every token reversed,
    so a leading wildcard (``*er``) becomes the PREFIX query ``re%`` —
    a sargable predicate the term_stats scan range-prunes — instead of
    an unprunable ``%er`` full-dictionary pass. The Solr
    ReversedWildcardFilter deployment pattern (a parallel reversed
    field)."""
    key = "reversed:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    reverse_tokens=True)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_leading_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WildcardQuery('*er') accelerated as PrefixQuery('re') over the
    reversed dictionary — matches docs containing customer/filter/order."""
    s = _searcher_reversed(spark, sf_dir)
    return s.docs_matching_any(s.expand_terms("prefix", "re"))


def _q_reverse_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df/ttf of the reversed-orientation dictionary entries matching
    the '*er' suffix — proves the reversed index carries the original
    index's exact stats under the token bijection."""
    s = _searcher_reversed(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").like("re%"))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _searcher_delimited_tf(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with DelimitedTermFrequencyTokenFilter
    (``analysis/common/.../miscellaneous/DelimitedTermFrequencyToken
    Filter.java``): every doc gets a 'zqtf|N' token appended (N = 7 for
    doc_id % 5 == 0, else 2), whose integer suffix IS the term
    frequency — feeding both the postings tf and the norm field length
    (FieldInvertState.length += termFrequency). Positions off, per the
    reference's DOCS_AND_FREQS requirement."""
    key = "delimtf:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(F.col("text"),
                     F.when(F.col("doc_id") % 5 == 0, F.lit(" zqtf|7"))
                     .otherwise(F.lit(" zqtf|2"))).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=False,
                    tokenizer="whitespace", term_freq_delimiter="|")
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_delimited_tf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery('zqtf'): every doc matches with df = numDocs, so
    the ranking is purely the tf=7-vs-2 and norm interplay the custom
    frequencies created."""
    return _fmt_topk(_searcher_delimited_tf(spark, sf_dir).search(
        Q.Term("zqtf"), k=10))


def _q_delimited_tf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ttf('zqtf') = Σ custom freqs — 7 per fifth doc, 2 otherwise."""
    s = _searcher_delimited_tf(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(["zqtf", "data", "dup"]))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _searcher_marker(spark: SparkSession, sf_dir: str) -> Searcher:
    """German-light index with SetKeywordMarkerFilter + StemmerOverride-
    Filter in the chain (``miscellaneous/SetKeywordMarkerFilter.java``,
    ``miscellaneous/StemmerOverrideFilter.java``): 'filter' is keyword-
    protected (stays 'filter', not 'filt'); 'table' force-stems to
    'zqtbl' (not 'tabl'); everything else takes the normal
    GermanLightStemmer path."""
    key = "marker:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    stemmer="german_light",
                    keyword_marker=frozenset({"filter"}),
                    stemmer_override={"table": "zqtbl"})
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_keyword_marker_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the keyword-protected surface form 'filter' — a term
    that only exists in the dictionary because the marker stopped the
    stemmer from conflating it into 'filt'."""
    return _fmt_topk(_searcher_marker(spark, sf_dir).search(
        Q.Term("filter"), k=10))


def _q_keyword_marker_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher_marker(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(["filter", "filt", "zqtbl",
                                        "tabl", "table", "ord"]))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _searcher_scandinavian(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index with ScandinavianFoldingFilter in the chain
    (``miscellaneous/ScandinavianFoldingFilter.java``): every doc gets
    ' blåbärsyltetöj' appended, which folds to 'blabarsyltetoj' — the
    documented blåbærsyltetøj == blabarsyltetoj equivalence class. The
    ASCII corpus contains none of the aa/ae/ao/oe/oo digraphs, so only
    the marker is rewritten."""
    key = "scand:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(F.col("text"),
                     F.lit(" blåbärsyltetöj")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    token_filters=(("scandinavian_fold",),))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_scandinavian_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fmt_topk(_searcher_scandinavian(spark, sf_dir).search(
        Q.Term("blabarsyltetoj"), k=10))


def _searcher_hyphenated(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index with the HyphenatedWordsFilter join
    (``miscellaneous/HyphenatedWordsFilter.java``, here a pre-tokenizer
    trailing-hyphen join): every doc gets ' zqhy-\\nphen' appended,
    which re-joins across the line break to the single token
    'zqhyphen'."""
    key = "hyphen:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" zqhy-\nphen")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    tokenizer="whitespace",
                    char_filters=(("hyphenated_words",),))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_hyphenated_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fmt_topk(_searcher_hyphenated(spark, sf_dir).search(
        Q.Term("zqhyphen"), k=10))


def _searcher_phonetic(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index with PhoneticFilter(Soundex, inject=true)
    (``analysis/phonetic/PhoneticFilter.java``): every token's soundex
    code is a posInc=0 overlay beside the surface form — overlays are
    norm-discounted but DO count into sumTotalTermFreq (avgdl), so the
    scores only match if the twin splits those two the same way."""
    key = "phonetic:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    phonetic=("soundex", True))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_phonetic_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the soundex code of 'small' (S540) — a term
    that only exists as injected overlays."""
    return _fmt_topk(_searcher_phonetic(spark, sf_dir).search(
        Q.Term("S540"), k=10))


def _q_phonetic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher_phonetic(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(["S540", "T140", "D300", "R000",
                                        "small", "table"]))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


# ---------------------------------------------------------------------------
# Metaphone / DoubleMetaphone / Cologne / Daitch-Mokotoff filters over a
# fully synthetic name corpus: content = NAMES[doc_id%16] NAMES[doc_id%7],
# so the whole index vocabulary is 16 names plus their phonetic codes.
# The twin's code table is pinned VERBATIM from the committed commons-
# codec 1.19 golden fixture (tests/data/phonetic/golden.tsv, generated
# by the real Java encoders via tools/gen_phonetic_goldens.py) — the
# oracle stays independent of our Python encoders.
# ---------------------------------------------------------------------------

_PHON_NAMES = ("kuczewski", "schmidt", "smith", "jose", "jankelowicz",
               "filipowicz", "gough", "ghislane", "michael", "thomas",
               "xavier", "knight", "wright", "horowitz", "auerbach",
               "euler")

# name -> emitted token list under each filter (original first:
# inject=true), from the golden fixture. DoubleMetaphoneFilter drops an
# alternate equal to the primary (jose); the single-code PhoneticFilter
# emits iff the code differs from the term (always, here).
_DMETA_TOKENS = {
    "kuczewski": ["KSSK", "KXFS"], "schmidt": ["XMT", "SMT"],
    "smith": ["SM0", "XMT"], "jose": ["HS"],
    "jankelowicz": ["JNKL", "ANKL"], "filipowicz": ["FLPT", "FLPF"],
    "gough": ["KF"], "ghislane": ["JLN"], "michael": ["MKL", "MXL"],
    "thomas": ["TMS"], "xavier": ["SF", "SFR"], "knight": ["NT"],
    "wright": ["RT"], "horowitz": ["HRTS", "HRFX"],
    "auerbach": ["ARPK"], "euler": ["ALR"],
}
_META_TOKENS = {
    "kuczewski": ["KKSS"], "schmidt": ["SKMT"], "smith": ["SM0"],
    "jose": ["JS"], "jankelowicz": ["JNKL"], "filipowicz": ["FLPW"],
    "gough": ["K"], "ghislane": ["KSLN"], "michael": ["MXL"],
    "thomas": ["0MS"], "xavier": ["SFR"], "knight": ["NT"],
    "wright": ["RT"], "horowitz": ["HRWT"], "auerbach": ["ARBX"],
    "euler": ["ELR"],
}
_COLOGNE_TOKENS = {
    "kuczewski": ["48384"], "schmidt": ["862"], "smith": ["862"],
    "jose": ["08"], "jankelowicz": ["064538"], "filipowicz": ["35138"],
    "gough": ["44"], "ghislane": ["4856"], "michael": ["645"],
    "thomas": ["268"], "xavier": ["4837"], "knight": ["4642"],
    "wright": ["3742"], "horowitz": ["0738"], "auerbach": ["0714"],
    "euler": ["057"],
}
# Beider-Morse gen/approx/concat groups per name, pinned verbatim from
# tests/data/phonetic/bm_golden.tsv (the REAL commons-codec bm engine's
# output). BeiderMorseFilter REPLACES the token: first group at the
# source position, the rest posInc-0 overlays — the twin unnests these
# lists WITHOUT the original name. 'zmit' collides schmidt with smith.
_BM_TOKENS = {
    "kuczewski": ["kutsifski"],
    "schmidt": ["stzmit", "zmit"],
    "smith": ["zmit"],
    "jose": ["ios", "iosi", "ioz", "iozi", "iusi", "xosi", "zos",
             "zosi", "zoz", "zozi"],
    "jankelowicz": ["iankYlovitS", "iankYlovits", "iankilovitS",
                    "iankilovits", "ionkYlovitS", "ionkYlovits",
                    "ionkilovitS", "ionkilovits"],
    "filipowicz": ["fQlQpovitS", "fQlQpovits", "fQlipovitS",
                   "fQlipovits", "filQpovitS", "filQpovits",
                   "filipovitS", "filipovits"],
    "gough": ["Dg", "gDg", "gDgx", "gag", "gog", "gogx", "gug",
              "gugx", "og", "ug"],
    "ghislane": ["gizlani", "gizloni"],
    "michael": ["mQxYl", "mQxail", "mQxoil", "mitsDl", "mitsail",
                "mitsoil", "mixDl", "mixYl", "mixail", "mixoil"],
    "thomas": ["tYmas", "tYmos", "tomas", "tomos"],
    "xavier": ["gzYviir", "gzYvir", "gzabiir", "gzavDr", "gzavii",
               "gzaviir", "gzavir", "gzobiir", "gzovDr", "gzovii",
               "gzoviir", "gzovir", "ksYviir", "ksYvir", "ksabiir",
               "ksavDr", "ksavii", "ksaviir", "ksavir", "ksobiir",
               "ksovDr", "ksovii", "ksoviir", "ksovir", "sabiir",
               "saviir", "sobiir", "soviir"],
    "knight": ["knQgt", "knigt"],
    "wright": ["vrQgt", "vrigt", "wrigt"],
    "horowitz": ["YrovitS", "Yrovits", "orovitS", "orovits",
                 "xYrovitS", "xYrovits", "xorovitS", "xorovits"],
    "auerbach": ["DrbYx", "Drba", "DrbaS", "Drbas", "DrbatS", "Drbats",
                 "Drbax", "Drbo", "DrboS", "Drbos", "DrbotS", "Drbots",
                 "Drbox", "DrvatS", "Drvats", "Drvax", "DrvotS",
                 "Drvots", "Drvox"],
    "euler": ["DlYr", "Dli", "Dlir", "YilYr", "Yilir", "Ylir", "eli",
              "elir", "ilYr", "ilir", "olYr", "olir", "uli", "ulir"],
}

_DMS_TOKENS = {
    "kuczewski": ["547450"], "schmidt": ["463000"], "smith": ["463000"],
    "jose": ["140000", "440000"], "jankelowicz": ["165874", "465874"],
    "filipowicz": ["787740"], "gough": ["550000"],
    "ghislane": ["548600"], "michael": ["648000", "658000"],
    "thomas": ["364000"], "xavier": ["579000"], "knight": ["565300"],
    "wright": ["795300"], "horowitz": ["597400"],
    "auerbach": ["097400", "097500"], "euler": ["189000"],
}


def _phon_names_content():
    arr = F.array(*[F.lit(n) for n in _PHON_NAMES])
    return F.concat(
        F.element_at(arr, (F.col("doc_id") % 16 + 1).cast("int")),
        F.lit(" "),
        F.element_at(arr, (F.col("doc_id") % 7 + 1).cast("int")))


def _searcher_phon_filter(spark: SparkSession, sf_dir: str, tag: str,
                          phonetic: tuple) -> Searcher:
    key = f"phon_{tag}:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        h = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{h}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", _phon_names_content().alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=h,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    phonetic=phonetic)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_dmetaphone_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on kuczewski's ALTERNATE Double-Metaphone code —
    exists only because the filter emits both codes as overlays."""
    s = _searcher_phon_filter(spark, sf_dir, "dmeta",
                              ("double_metaphone_filter", True, 4))
    return _fmt_topk(s.search(Q.Term("KXFS"), k=10))


_DMETA_STAT_TERMS = ("KSSK", "KXFS", "XMT", "SMT", "SM0", "HS",
                     "kuczewski", "smith")
_META_STAT_TERMS = ("KKSS", "SKMT", "SM0", "0MS", "MXL", "JS", "thomas")
_COLOGNE_STAT_TERMS = ("48384", "862", "44", "0738", "057", "schmidt",
                       "smith")
_DMS_STAT_TERMS = ("463000", "165874", "465874", "547450", "648000",
                   "658000", "140000", "jose", "michael")


def _phon_stats(spark, sf_dir, tag, phonetic, terms) -> DataFrame:
    s = _searcher_phon_filter(spark, sf_dir, tag, phonetic)
    return (s.term_stats.filter(F.col("term").isin(list(terms)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _q_dmetaphone_stats(spark, sf_dir):
    """XMT merges schmidt's primary with smith's alternate — df/ttf
    aggregate across source names like any posting list."""
    return _phon_stats(spark, sf_dir, "dmeta",
                       ("double_metaphone_filter", True, 4),
                       _DMETA_STAT_TERMS)


def _q_metaphone_stats(spark, sf_dir):
    """Original Metaphone incl. the TH→'0' code (thomas → 0MS)."""
    return _phon_stats(spark, sf_dir, "meta", ("metaphone", True),
                       _META_STAT_TERMS)


def _q_cologne_stats(spark, sf_dir):
    """Kölner Phonetik: schmidt and smith collide on 862."""
    return _phon_stats(spark, sf_dir, "cologne", ("cologne", True),
                       _COLOGNE_STAT_TERMS)


def _q_dms_stats(spark, sf_dir):
    """Daitch-Mokotoff branching: jose/michael/auerbach emit TWO branch
    codes each; schmidt+smith collide on 463000."""
    return _phon_stats(spark, sf_dir, "dms",
                       ("daitch_mokotoff_filter", True),
                       _DMS_STAT_TERMS)


_BM_STAT_TERMS = ("zmit", "stzmit", "kutsifski", "gizlani", "tomas",
                  "iankYlovitS", "schmidt", "smith")


# ---------------------------------------------------------------------------
# HunspellStemFilter over a self-contained synthetic dictionary: the
# engine's faithfulness to the reference Stemmer is pinned by the 288
# transcoded StemmerTestBase cases (tests/test_hunspell.py); this entry
# verifies the FILTER-through-the-build path end to end. Content is
# FORMS[doc_id%12] FORMS[doc_id%7]; each form has exactly one stem
# under the dictionary below, mirrored in the twin's token table.
# ---------------------------------------------------------------------------

_HUNSPELL_AFF = """SET UTF-8
PFX R Y 1
PFX R 0 re .
SFX S Y 2
SFX S 0 s [^xs]
SFX S 0 es [xs]
SFX D Y 3
SFX D 0 ed [^en]
SFX D e ed e
SFX D 0 ned n
SFX G Y 3
SFX G 0 ing [^en]
SFX G e ing e
SFX G 0 ning n
"""
_HUNSPELL_DIC = """6
scan/SDGR
merge/DG
index/SDR
filter/SDG
emit/S
parse/SDGR
"""

_HUNSPELL_FORMS = ("scans", "scanned", "rescanning", "merged",
                   "merging", "indexes", "reindexed", "filters",
                   "filtering", "emits", "parsed", "zqunknown")
#: form -> emitted tokens (the single stem; stemless passes through)
_HUNSPELL_TOKENS = {
    "scans": ["scan"], "scanned": ["scan"], "rescanning": ["scan"],
    "merged": ["merge"], "merging": ["merge"], "indexes": ["index"],
    "reindexed": ["index"], "filters": ["filter"],
    "filtering": ["filter"], "emits": ["emit"], "parsed": ["parse"],
    "zqunknown": ["zqunknown"],
}
_HUNSPELL_STAT_TERMS = ("scan", "merge", "index", "filter", "emit",
                        "parse", "zqunknown", "scans")


def _hunspell_paths() -> tuple:
    tag = hashlib.md5((_HUNSPELL_AFF + _HUNSPELL_DIC).encode()
                      ).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"lucene_spark_hs_{tag}")
    aff, dic = base + ".aff", base + ".dic"
    if not (os.path.exists(aff) and os.path.exists(dic)):
        with open(aff, "w", encoding="utf-8") as f:
            f.write(_HUNSPELL_AFF)
        with open(dic, "w", encoding="utf-8") as f:
            f.write(_HUNSPELL_DIC)
    return aff, dic


def _searcher_hunspell(spark: SparkSession, sf_dir: str) -> Searcher:
    key = "hunspell:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        h = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{h}")
        arr = F.array(*[F.lit(w) for w in _HUNSPELL_FORMS])
        content = F.concat(
            F.element_at(arr, (F.col("doc_id") % 12 + 1).cast("int")),
            F.lit(" "),
            F.element_at(arr, (F.col("doc_id") % 7 + 1).cast("int")))
        docs = _docs(spark, sf_dir).select(
            "doc_id", content.alias("content"))
        aff, dic = _hunspell_paths()
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=h,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    hunspell=(aff, dic))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_hunspell_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the stem 'scan' — its postings merge three
    surface forms (scans/scanned/rescanning incl. the prefix+suffix
    cross product)."""
    return _fmt_topk(_searcher_hunspell(spark, sf_dir).search(
        Q.Term("scan"), k=10))


def _q_hunspell_stats(spark, sf_dir):
    """Stem dictionary df/ttf: surface forms are REPLACED by their
    stems (so 'scans' must be absent); zqunknown passes through."""
    s = _searcher_hunspell(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(list(_HUNSPELL_STAT_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


# ---------------------------------------------------------------------------
# Stempel (Egothor) Polish stemmer through the build: the engine's
# faithfulness to the reference's egothor trie/diff machinery is pinned
# by 32,841 goldens generated from the reference's OWN Java classes
# over the shipped stemmer_20000.tbl (tests/test_stempel.py); this
# entry verifies the filter-through-the-build path end to end. Content
# is FORMS[doc_id%12] FORMS[doc_id%7]; the twin pins each form's stem
# from the golden fixture.
# ---------------------------------------------------------------------------

_STEMPEL_FORMS = ("studenta", "studenci", "profesora", "najpiekniejsza",
                  "warszawskiego", "krakowskie", "gdanskich", "ludzie",
                  "ksiazek", "czlowieka", "nauczycielami",
                  "komputerowych")
#: form -> stempel stem (verified against the committed Java goldens)
_STEMPEL_TOKENS = {
    "studenta": ["student"], "studenci": ["student"],
    "profesora": ["profesor"], "najpiekniejsza": ["najpiekny"],
    "warszawskiego": ["warszawski"], "krakowskie": ["krakowski"],
    "gdanskich": ["gdanski"], "ludzie": ["lud"],
    "ksiazek": ["ksiazć"], "czlowieka": ["czlowieka"],
    "nauczycielami": ["nauczyciel"], "komputerowych": ["komputerowy"],
}
_STEMPEL_STAT_TERMS = ("student", "profesor", "najpiekny", "warszawski",
                       "lud", "ksiazć", "czlowieka", "studenta")


def _searcher_stempel(spark: SparkSession, sf_dir: str) -> Searcher:
    key = "stempel:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        h = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{h}")
        arr = F.array(*[F.lit(w) for w in _STEMPEL_FORMS])
        content = F.concat(
            F.element_at(arr, (F.col("doc_id") % 12 + 1).cast("int")),
            F.lit(" "),
            F.element_at(arr, (F.col("doc_id") % 7 + 1).cast("int")))
        docs = _docs(spark, sf_dir).select(
            "doc_id", content.alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=h,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    stemmer="stempel_polish")
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_stempel_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the stem 'student' — its postings merge the
    studenta/studenci surface forms (the PolishAnalyzer role)."""
    return _fmt_topk(_searcher_stempel(spark, sf_dir).search(
        Q.Term("student"), k=10))


def _q_stempel_stats(spark, sf_dir):
    """Stem dictionary df/ttf: surface forms are REPLACED by their
    trie/diff stems (so 'studenta' must be absent); czlowieka's patch
    is an identity and survives as itself."""
    s = _searcher_stempel(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(list(_STEMPEL_STAT_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


# ---------------------------------------------------------------------------
# ICUFoldingFilter through the build: the UTR#30 fold (casefold +
# accent removal + compat folds) is pinned by 4,469 icu4j fuzz goldens
# + the transcoded TestICUFoldingFilter cases (tests/test_icunorm.py);
# this entry verifies icu_folding=True end to end. Content is
# FORMS[doc_id%12] FORMS[doc_id%7]; each form folds to ONE pinned token.
# ---------------------------------------------------------------------------

_ICU_FORMS = ("Résumé", "RÉSUMÉ", "résumé", "Łódź", "Ruß", "ΜΆΪΟΣ",
              "Μάϊος", "đis", "cræzy", "৭০৬", "ĆWICZENIE", "Ǻngström")
#: form -> folded token (verified against the icu4j-pinned fold)
_ICU_TOKENS = {
    "Résumé": ["resume"], "RÉSUMÉ": ["resume"], "résumé": ["resume"],
    "Łódź": ["lodz"], "Ruß": ["russ"], "ΜΆΪΟΣ": ["μαιοσ"],
    "Μάϊος": ["μαιοσ"], "đis": ["dis"], "cræzy": ["craezy"],
    "৭০৬": ["706"], "ĆWICZENIE": ["cwiczenie"], "Ǻngström": ["angstrom"],
}
_ICU_STAT_TERMS = ("resume", "μαιοσ", "russ", "lodz", "706", "craezy",
                   "angstrom", "résumé")


def _searcher_icu(spark: SparkSession, sf_dir: str) -> Searcher:
    key = "icufold:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        h = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{h}")
        arr = F.array(*[F.lit(w) for w in _ICU_FORMS])
        content = F.concat(
            F.element_at(arr, (F.col("doc_id") % 12 + 1).cast("int")),
            F.lit(" "),
            F.element_at(arr, (F.col("doc_id") % 7 + 1).cast("int")))
        docs = _docs(spark, sf_dir).select(
            "doc_id", content.alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=h,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    icu_folding=True)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_icu_fold_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the folded 'resume' — its postings merge three
    source spellings (composed/uppercase/lowercase accents)."""
    return _fmt_topk(_searcher_icu(spark, sf_dir).search(
        Q.Term("resume"), k=10))


def _q_icu_fold_stats(spark, sf_dir):
    """Folded dictionary df/ttf: accents removed, case folded, native
    digits folded — the unfolded surface 'résumé' must be absent."""
    s = _searcher_icu(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(list(_ICU_STAT_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


# ---------------------------------------------------------------------------
# SmartChineseAnalyzer (smartcn) through the build: the HHMM segmenter,
# JDK sentence DFA, SegTokenFilter and porter/stop chain are pinned by
# 1,114 reference-Java goldens + a 13,307-probe sentence grid
# (tests/test_smartcn.py); this entry verifies the chain end to end.
# Content is FORMS[doc_id%12] FORMS[doc_id%7] — every form is a full
# sentence (。-terminated), so the two segmentations are independent
# and the twin pins each form's exact token stream.
# ---------------------------------------------------------------------------

_SMARTCN_FORMS = (
    "我购买了道具和服装。", "这是一个测试的句子！", "我们研究搜索引擎技术。",
    "价格是3.14元，数量是42个。", "他学习计算机科学与技术。", "今天天气真好！",
    "我购买 Tests 了道具和服装。", "引擎性能非常重要。",
    "Ｔｅｓｔｓ ｔｅｓｔ ＦＵＬＬ ｗｉｄｔｈ１２３。", "数据库系统支持查询。",
    "中文信息处理很有意思。", "搜索引擎使用倒排索引。")
#: form -> post-chain tokens (verified against the Java goldens)
_SMARTCN_TOKENS = {
    "我购买了道具和服装。": ["我", "购买", "了", "道具", "和", "服装"],
    "这是一个测试的句子！": ["这", "是", "一个", "测试", "的", "句子"],
    "我们研究搜索引擎技术。": ["我们", "研究", "搜索引擎", "技术"],
    "价格是3.14元，数量是42个。": ["价格", "是", "3", "14", "元", "数量",
                                    "是", "42", "个"],
    "他学习计算机科学与技术。": ["他", "学习", "计算机", "科学", "与", "技术"],
    "今天天气真好！": ["今天", "天气", "真", "好"],
    "我购买 Tests 了道具和服装。": ["我", "购买", "test", "了", "道具", "和",
                                     "服装"],
    "引擎性能非常重要。": ["引擎", "性能", "非常", "重要"],
    "Ｔｅｓｔｓ ｔｅｓｔ ＦＵＬＬ ｗｉｄｔｈ１２３。": ["test", "test", "full",
                                                         "width", "123"],
    "数据库系统支持查询。": ["数据库", "系统", "支持", "查询"],
    "中文信息处理很有意思。": ["中文", "信息", "处理", "很", "有意思"],
    "搜索引擎使用倒排索引。": ["搜索引擎", "使用", "倒", "排", "索引"],
}
_SMARTCN_STAT_TERMS = ("技术", "搜索引擎", "test", "购买", "是", "索引",
                       "倒排索引", "123")


def _searcher_smartcn(spark: SparkSession, sf_dir: str) -> Searcher:
    key = "smartcn:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        from lucene_spark.functions.smartcn import smartcn_stop_set
        h = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{h}")
        arr = F.array(*[F.lit(w) for w in _SMARTCN_FORMS])
        content = F.concat(
            F.element_at(arr, (F.col("doc_id") % 12 + 1).cast("int")),
            F.lit(" "),
            F.element_at(arr, (F.col("doc_id") % 7 + 1).cast("int")))
        docs = _docs(spark, sf_dir).select(
            "doc_id", content.alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=h,
                    content_col="content", doc_id_col="doc_id",
                    tokenizer="smartcn", stemmer="porter",
                    stopwords=smartcn_stop_set(), store_positions=True)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_smartcn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on 技术 — the HHMM segmenter emits it from two
    different forms (plain suffix and 科学与技术), merging postings."""
    return _fmt_topk(_searcher_smartcn(spark, sf_dir).search(
        Q.Term("技术"), k=10))


def _q_smartcn_stats(spark, sf_dir):
    """Segmented dictionary df/ttf: multi-char dictionary words
    (搜索引擎) survive whole, non-dictionary compounds (倒排索引) split
    into singles, latin runs porter-stem to test, full-width folds."""
    s = _searcher_smartcn(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(list(_SMARTCN_STAT_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


_ICU_TOK_FORMS = (
    "fast data processing with spark",
    "東京大学のコンピュータでデータを処理します",
    "การวิเคราะห์ข้อมูลอย่างรวดเร็ว",
    "한국어 형태소 분석기",
    "быстрый поиск данных",
    "中华人民共和国的自然语言处理技术",
    "コンピュータサイエンスのデータベース",
    "query engine merges segments quickly",
    "ανάλυση δεδομένων με ταχύτητα",
    "تحليل سريع للبيانات",
    "42nd test8,901 run ２０２６",
    "mixed 東京データ and การข้อมูล tokens")
#: form -> post-chain tokens (ICUTokenizer golden-verified port:
#: CJ dictionary Viterbi, Thai PossibleWord walk, UAX#29 elsewhere)
_ICU_TOK_TOKENS = {
    "fast data processing with spark":
        ["fast", "data", "processing", "with", "spark"],
    "東京大学のコンピュータでデータを処理します":
        ["東京", "大学", "の", "コンピュータ", "で", "データ", "を",
         "処理", "し", "ます"],
    "การวิเคราะห์ข้อมูลอย่างรวดเร็ว":
        ["การ", "วิเคราะห์", "ข้อมูล", "อย่าง", "รวดเร็ว"],
    "한국어 형태소 분석기": ["한국어", "형태소", "분석기"],
    "быстрый поиск данных": ["быстрый", "поиск", "данных"],
    "中华人民共和国的自然语言处理技术":
        ["中华", "人民", "共和国", "的", "自然", "语言", "处理", "技术"],
    "コンピュータサイエンスのデータベース":
        ["コンピュータ", "サイエンス", "の", "データベース"],
    "query engine merges segments quickly":
        ["query", "engine", "merges", "segments", "quickly"],
    "ανάλυση δεδομένων με ταχύτητα":
        ["ανάλυση", "δεδομένων", "με", "ταχύτητα"],
    "تحليل سريع للبيانات": ["تحليل", "سريع", "للبيانات"],
    "42nd test8,901 run ２０２６":
        ["42nd", "test8,901", "run", "２０２６"],
    "mixed 東京データ and การข้อมูล tokens":
        ["mixed", "東京", "データ", "and", "การ", "ข้อมูล", "tokens"],
}
_ICU_TOK_STAT_TERMS = ("データ", "東京", "ข้อมูล", "한국어", "技术",
                       "データベース", "42nd", "２０２６", "data")


def _searcher_icu_tok(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index over the mixed-script synthetic corpus with the full
    ICUTokenizer chain (tokenizer="icu" + lowercase): per-script
    UAX#29 with the CJK and Thai dictionary break engines."""
    key = "icutok:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        h = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{h}")
        arr = F.array(*[F.lit(w) for w in _ICU_TOK_FORMS])
        content = F.concat(
            F.element_at(arr, (F.col("doc_id") % 12 + 1).cast("int")),
            F.lit(" "),
            F.element_at(arr, (F.col("doc_id") % 7 + 1).cast("int")))
        docs = _docs(spark, sf_dir).select(
            "doc_id", content.alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=h,
                    content_col="content", doc_id_col="doc_id",
                    tokenizer="icu", stopwords=frozenset(),
                    store_positions=True)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_icu_tok_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on データ — emitted by the CJ dictionary Viterbi
    from 2 different forms (plain and 東京データ compound); データベース
    stays whole, so its form must NOT match."""
    return _fmt_topk(_searcher_icu_tok(spark, sf_dir).search(
        Q.Term("データ"), k=10))


def _q_icu_tok_stats(spark, sf_dir):
    """df/ttf over ICU tokens: dictionary words survive whole
    (データベース), Thai words come from the PossibleWord walk
    (ข้อมูล), fullwidth digits stay numeric (２０２６), letter+digit
    chains keep MidNum joins (test8,901 absent here — see 42nd)."""
    s = _searcher_icu_tok(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(list(_ICU_TOK_STAT_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _q_beider_morse_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the Beider-Morse phoneme zmit — schmidt and
    smith both encode to it (the BMPM cross-spelling match the engine
    exists for), so its postings merge two source names."""
    s = _searcher_phon_filter(spark, sf_dir, "bm", ("beider_morse",))
    return _fmt_topk(s.search(Q.Term("zmit"), k=10))


def _q_beider_morse_stats(spark, sf_dir):
    """df/ttf over BMPM phoneme tokens: originals are REPLACED
    (BeiderMorseFilter has no inject mode), so schmidt/smith must be
    absent from the dictionary."""
    return _phon_stats(spark, sf_dir, "bm", ("beider_morse",),
                       _BM_STAT_TERMS)


def _q_protected_truncate_stats(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """ProtectedTermFilter wrapping TruncateTokenFilter
    (``miscellaneous/ProtectedTermFilter.java`` +
    ``TruncateTokenFilter.java``): every term truncates to 4 chars
    except the protected 'customer'."""
    key = "prot:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    token_filters=(("protected", ("customer",),
                                    (("truncate", 4),)),))
        _BUILT[key] = idx
    s = Searcher(spark, _BUILT[key])
    return (s.term_stats
            .filter(F.col("term").isin(["customer", "cust", "orde",
                                        "tabl", "quer"]))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _searcher_urlemail(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index with the UAX29URLEmailTokenizer
    (``analysis/common/.../email/UAX29URLEmailTokenizerImpl.jflex``,
    ``functions/urlemail.py``): every doc gets a URL (varying by
    doc_id % 3) and an email appended — both survive tokenization as
    single lowercase tokens the plain standard chain would shred."""
    key = "urlemail:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(F.col("text"),
                     F.lit(" see HTTP://zq.Example.COM/p?q="),
                     (F.col("doc_id") % 3).cast("string"),
                     F.lit(" mail Bob@zqMail.org")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    tokenizer="url_email")
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_url_email_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on one URL variant — a third of the corpus
    matches, with dl shifted by the injected tokens."""
    return _fmt_topk(_searcher_urlemail(spark, sf_dir).search(
        Q.Term("http://zq.example.com/p?q=1"), k=10))


def _q_url_email_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher_urlemail(spark, sf_dir)
    urls = [f"http://zq.example.com/p?q={i}" for i in range(3)]
    return (s.term_stats
            .filter(F.col("term").isin(urls + ["bob@zqmail.org", "see",
                                               "mail"]))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _q_url_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TypeTokenFilter over the URL/email tokenizer
    (``miscellaneous/TypeTokenFilter.java``, keep-listed-types): an
    index of ONLY the URL tokens — the web-corpus link-extraction op.
    The dictionary is exactly the three injected URL variants."""
    key = "urlonly:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(F.col("text"),
                     F.lit(" see HTTP://zq.Example.COM/p?q="),
                     (F.col("doc_id") % 3).cast("string"),
                     F.lit(" mail Bob@zqMail.org")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    tokenizer=("url_email", "URL"))
        _BUILT[key] = idx
    s = Searcher(spark, _BUILT[key])
    return (s.term_stats
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _q_expression_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expressions module (reference ``expressions/js/JavascriptCompiler
    .java`` + ``expressions/ExpressionRescorer.java``): the compiled
    expression '_score + ln(1 + popularity)' over SimpleBindings
    {_score = relevance, popularity = doc_id % 10} re-ranks the
    first-pass top-20 — our ``plans/expressions.py`` parses the same
    grammar and emits one Catalyst projection."""
    from lucene_spark.plans.expressions import to_column
    s = _searcher(spark, sf_dir)
    fp = s.search(Q.Term(T_COMMON), k=20)
    expr = to_column("_score + ln(1 + popularity)",
                     {"_score": F.col("score"),
                      "popularity": F.col("doc_id") % 10})
    w = Window.orderBy(F.desc("newscore"), F.asc("doc_id"))
    return (fp.withColumn("newscore", expr)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    _q4(F.col("newscore")).alias("score_q4")))


def _q_auto_stopword_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryAutoStopWordAnalyzer (``analysis/common/.../query/
    QueryAutoStopWordAnalyzer.java``): df > 40%·numDocs terms become
    query-time stopwords derived from the distributed term_stats scan.
    The parsed query 'data OR dup' loses its df-heavy clause ('data',
    ~78% of docs) and keeps the rare one — the oracle twin encodes the
    RULE (per-clause df gate), not the outcome."""
    from lucene_spark.plans.parser import parse
    s = _searcher(spark, sf_dir)
    stop = s.auto_stop_words(max_percent_docs=0.4)
    return _fmt_topk(s.search(
        parse(f"{T_COMMON} OR {T_RARE}", stopwords=stop), k=10))


#: the reference javadoc's camelCase pattern set
#: (pattern/PatternCaptureGroupTokenFilter.java:45-52)
_CAMEL_PATTERNS = (r"([A-Z]{2,})", r"(?<![A-Z])([A-Z][a-z]+)",
                   r"(?:^|\b|(?<=[0-9_])|(?<=[A-Z]{2}))([a-z]+)",
                   r"([0-9]+)")


def _searcher_capture(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with PatternCaptureGroupTokenFilter
    (``pattern/PatternCaptureGroupTokenFilter.java``) using the
    javadoc's camelCase pattern set, preserveOriginal=False: docs with
    doc_id % 7 == 0 get 'getDataValue' prepended — the filter splits it
    into get/Data/Value (first capture REPLACES the original at its
    position, the rest overlay posInc-0), then LowerCaseFilter. Base
    lowercase tokens decompose into their alpha/digit runs (identity
    for pure-alpha words)."""
    key = "capture:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit("getDataValue "), F.col("text")))
            .otherwise(F.col("text")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    tokenizer="whitespace",
                    capture_groups=(_CAMEL_PATTERNS, False))
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_capture_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery('data') over the camel-captured index — matches
    surface 'data' tokens AND the Data capture inside the injected
    camel identifier."""
    return _fmt_topk(_searcher_capture(spark, sf_dir).search(
        Q.Term("data"), k=10))


def _q_capture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher_capture(spark, sf_dir)
    return (s.term_stats
            .filter(F.col("term").isin(["get", "data", "value"]))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _elide_content(col):
    """Deterministic apostrophe injection so the synthetic corpus
    exercises ElisionFilter: vowel-initial tokens get ``l'``, s-initial
    get ``qu'`` (both French articles — stripped by the filter), and
    t-initial get ``xy'`` (NOT an article — the apostrophe token must
    survive intact, the ElisionFilter negative case from the
    reference's ``util/TestElision.java`` O'brian fixture)."""
    c = F.regexp_replace(col, r"(^| )([aeiou])", "$1l'$2")
    c = F.regexp_replace(c, r"(^| )(s)", "$1qu'$2")
    return F.regexp_replace(c, r"(^| )(t)", "$1xy'$2")


def _searcher_elision_fr(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with ElisionFilter (reference
    ``util/ElisionFilter.java:55-70`` with FrenchAnalyzer
    DEFAULT_ARTICLES, ``fr/FrenchAnalyzer.java:80``): the article
    prefix before the first apostrophe is stripped at vocabulary level
    inside the analyzer Arrow UDF."""
    from lucene_spark.functions.lightstem import FRENCH_ARTICLES
    key = "elisionfr:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", _elide_content(F.col("text")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    elision=FRENCH_ARTICLES)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


# post-injection vocabulary: elided terms recover their surface form
# ('sort', 'order'), non-article apostrophe terms index verbatim
# ("xy'the"), and the bare surface forms of t-initial words vanish.
_ELISION_FR_TERMS = ("sort", "order", "xy'the", "the", "xy'table", "table")


def _q_elision_fr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery over the elided index: every 'sort' occurrence
    was injected as "qu'sort" and recovered by the ElisionFilter."""
    return _fmt_topk(_searcher_elision_fr(spark, sf_dir).search(
        Q.Term("sort"), k=10))


def _q_elision_fr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df/ttf across the elided dictionary: recovered forms keep their
    stats, "xy'..." survives with the apostrophe, bare t-initial
    surface forms are gone (df absent)."""
    s = _searcher_elision_fr(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").isin(list(_ELISION_FR_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _cjk_content(col):
    """Deterministic CJK injection so the synthetic corpus exercises
    the CJKAnalyzer chain: docs with doc_id%7==0 get the 4-ideograph
    run 数据处理 (bigrams 数据/据处/处理), docs with doc_id%11==0 get
    the lone pair 数据 (one bigram) — space-separated, so the runs
    never bigram across the boundary (offset-gap flush,
    ``cjk/CJKBigramFilter.java`` lastEndOffset)."""
    return F.concat(
        F.when(F.col("doc_id") % 7 == 0, F.lit("数据处理 ")).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, F.lit("数据 ")).otherwise(""),
        col)


def _searcher_cjk(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with the CJKAnalyzer chain (reference
    ``cjk/CJKAnalyzer.java``: width fold → lowercase → CJKBigramFilter
    → stop): Han runs index as position-consecutive bigrams, the ASCII
    base text passes through unchanged."""
    from lucene_spark.functions.cjk import ALL_CJK
    key = "cjk:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", _cjk_content(F.col("text")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    cjk_bigrams=ALL_CJK)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


# post-injection CJK vocabulary: the shared bigram 数据 (df = docs
# hitting either injection), the 4-run-only bigrams, and a latin base
# term that must pass through the CJK chain untouched
_CJK_TERMS = ("数据", "据处", "处理", "data")


def _q_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the bigram 数据 — tf 2 where both injections
    hit (doc_id % 77 == 0), 1 where exactly one does."""
    return _fmt_topk(_searcher_cjk(spark, sf_dir).search(
        Q.Term("数据"), k=10))


def _q_cjk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df/ttf across the bigrammed dictionary: bigram stats follow the
    injection conditions, latin terms keep their base-text stats."""
    s = _searcher_cjk(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").isin(list(_CJK_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _wdgf_content(col):
    """Deterministic compound-identifier injection exercising the
    WordDelimiterGraphFilter chain: docs with doc_id%5==0 get 'Wi-Fi'
    (parts wi/fi + CATENATE_WORDS overlap wifi; CATENATE_ALL deduped),
    docs with doc_id%9==0 get "PowerShot's XL-500" (case split +
    possessive strip -> power/shot + overlap powershot; numeric split ->
    xl/500 + CATENATE_ALL overlap xl500). Base tokens are pure a-z and
    pass through WDGF unchanged (single-subword fast path)."""
    return F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("Wi-Fi ")).otherwise(""),
        F.when(F.col("doc_id") % 9 == 0,
               F.lit("PowerShot's XL-500 ")).otherwise(""),
        col)


def _searcher_wdgf(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with whitespace -> WordDelimiterGraphFilter ->
    lowercase (reference ``miscellaneous/WordDelimiterGraphFilter
    .java``; flags = generate parts + split case/numerics + possessive
    + CATENATE_WORDS + CATENATE_ALL)."""
    from lucene_spark.functions.worddelim import (CATENATE_ALL,
                                                  CATENATE_WORDS,
                                                  DEFAULT_FLAGS)
    key = "wdgf:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", _wdgf_content(F.col("text")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    tokenizer="whitespace",
                    word_delimiter=DEFAULT_FLAGS | CATENATE_WORDS
                    | CATENATE_ALL)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_wdgf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the catenation 'wifi' — the indexed overlap
    token that makes 'Wi-Fi'/'wifi'/'wi fi' all match."""
    return _fmt_topk(_searcher_wdgf(spark, sf_dir).search(
        Q.Term("wifi"), k=10))


_WDGF_TERMS = ("wi", "fi", "wifi", "power", "shot", "powershot",
               "xl", "500", "xl500")


def _q_wdgf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df/ttf across the split/catenated vocabulary."""
    s = _searcher_wdgf(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").isin(list(_WDGF_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _greek_content(col):
    """Deterministic Greek injection exercising the GreekAnalyzer chain
    (reference ``el/GreekAnalyzer.java``: GreekLowerCaseFilter -> stop
    -> GreekStemmer): docs with doc_id%7==0 get 'Προϊόντα πολλαπλές'
    (folds+stems to προιοντ/πολλαπλ — dialytika and tonos stripping),
    docs with doc_id%11==0 get 'ΑΝΑΓΚΕΣ και γλώσσας' (αναγκ/γλωσσ with
    the stopword και dropped by the FOLDED stop set, shrinking the doc
    norm length). Base ASCII tokens pass through fold+stem unchanged."""
    return F.concat(
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("Προϊόντα πολλαπλές ")).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("ΑΝΑΓΚΕΣ και γλώσσας ")).otherwise(""),
        col)


def _searcher_greek(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with the GreekAnalyzer chain (reference
    ``el/GreekAnalyzer.java``; stemmer = Ntais' 23-rule cascade from
    ``el/GreekStemmer.java``) — folding, folded stop set and stemming
    all at vocabulary level inside the analyzer Arrow UDF."""
    from lucene_spark.functions.greekstem import GREEK_STOP_WORDS
    key = "greek:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", _greek_content(F.col("text")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=GREEK_STOP_WORDS, store_positions=True,
                    stemmer="greek")
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


# post-injection Greek vocabulary: stems by injection condition, the
# dropped stopword (df must be absent), and an ASCII base passthrough
_GREEK_TERMS = ("προιοντ", "πολλαπλ", "αναγκ", "γλωσσ", "και", "data")


def _q_greek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the stem προιοντ — every doc_id%7==0 doc had
    the surface form Προϊόντα folded and stemmed to it."""
    return _fmt_topk(_searcher_greek(spark, sf_dir).search(
        Q.Term("προιοντ"), k=10))


def _q_greek_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df/ttf across the Greek-stemmed dictionary: stem stats follow
    the injection conditions, the stopword και never reaches the
    dictionary, ASCII terms keep their base-text stats."""
    s = _searcher_greek(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").isin(list(_GREEK_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _snowball_ru_content(col):
    """Deterministic Cyrillic injection exercising the Snowball Russian
    stemmer through the full index build (reference
    ``analysis/common/.../snowball/RussianStemmer``; algorithm from the
    published Snowball russian.sbl): docs with doc_id%7==0 get
    'буйством любовные' (stems буйств/любовн), docs with doc_id%11==0
    get 'студенческом трубки' (stems студенческ/трубк). The stems are
    pinned from the committed reference golden fixture
    (tests/data/stem_goldens/snowball_russian.tsv), NOT computed by our
    stemmer — the oracle stays independent. ASCII base tokens have no
    Cyrillic vowels, so RV is empty and they pass through unchanged."""
    return F.concat(
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("буйством любовные ")).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit("студенческом трубки ")).otherwise(""),
        col)


def _searcher_snowball_ru(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with the Snowball Russian stemmer in the analyzer
    chain — vocabulary-level stemming inside the Arrow build UDF, the
    same path every one of the 33 registry Snowball stemmers rides."""
    key = "snowru:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", _snowball_ru_content(F.col("text")).alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    stemmer="snowball_russian")
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


# post-injection vocabulary: golden stems by injection condition plus
# an ASCII passthrough control
_SNOW_RU_TERMS = ("буйств", "любовн", "студенческ", "трубк", "data")


def _q_snowball_ru(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the stem буйств — every doc_id%7==0 doc had
    the surface form буйством stemmed to it at build time."""
    return _fmt_topk(_searcher_snowball_ru(spark, sf_dir).search(
        Q.Term("буйств"), k=10))


def _q_snowball_ru_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df/ttf across the Snowball-stemmed dictionary: stem stats follow
    the injection conditions, ASCII terms keep their base-text stats."""
    s = _searcher_snowball_ru(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").isin(list(_SNOW_RU_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


_NGRAM_RANGE = (3, 4)           # NGramTokenFilter min/max
_EDGE_RANGE = (2, 5)            # EdgeNGramTokenFilter min/max


def _searcher_ngram(spark: SparkSession, sf_dir: str,
                    edge: bool = False) -> Searcher:
    """Index with the (Edge)NGramTokenFilter appended to the standard
    chain (reference ``ngram/NGramTokenFilter.java`` /
    ``EdgeNGramTokenFilter.java``): every token expands to its grams at
    ONE position — the norm length counts emitting tokens, the
    collection sttf counts every gram."""
    rng = _EDGE_RANGE if edge else _NGRAM_RANGE
    key = f"ngram:{edge}:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    ngrams=rng, ngram_edge=edge)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_ngram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the 3-gram 'dat' over the 3..4-gram index —
    tf sums every containing token occurrence ('data' yields two
    3-grams? no: one 'dat' instance per occurrence position)."""
    return _fmt_topk(_searcher_ngram(spark, sf_dir).search(
        Q.Term("dat"), k=10))


def _q_edge_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the edge 3-prefix 'dat' — the autocomplete
    shape (every token starting with 'dat' contributes)."""
    return _fmt_topk(_searcher_ngram(spark, sf_dir, edge=True).search(
        Q.Term("dat"), k=10))


def _path_expr():
    """Deterministic synthetic path column over the corpus: doc_id →
    '/src/m<doc_id%7>/f<doc_id%31>.py' (the north-star input table's
    ``path`` shape)."""
    return F.concat(F.lit("/src/m"), (F.col("doc_id") % 7).cast("string"),
                    F.lit("/f"), (F.col("doc_id") % 31).cast("string"),
                    F.lit(".py"))


def _searcher_path(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index the synthetic path column with the PathHierarchyTokenizer
    (reference ``path/PathHierarchyTokenizer.java``): growing prefixes,
    all at one position → norm length 1 per doc."""
    key = "path:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", _path_expr().alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=False,
                    tokenizer="path")
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_path_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 TermQuery on the directory prefix '/src/m3' — matches every
    doc under that 'directory' (doc_id % 7 == 3), constant norm."""
    return _fmt_topk(_searcher_path(spark, sf_dir).search(
        Q.Term("/src/m3"), k=10))


_PATH_TERMS = ("/src", "/src/m3", "/src/m2/f9.py")


def _q_path_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df/ttf over path-prefix terms: the whole tree ('/src'), one
    directory, one exact file path."""
    s = _searcher_path(spark, sf_dir)
    return (s.term_stats.filter(F.col("term").isin(list(_PATH_TERMS)))
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


_CFQ_TITLE_TOKENS = 4
_CFQ_WEIGHTS = (2.0, 1.0)       # title, body


def _searchers_combined(spark: SparkSession, sf_dir: str):
    """Two single-field indexes (title = first 4 tokens, body = rest)
    over the same doc_id space with the same num_segments — the
    co-located layout CombinedFieldQuery scoring combines per segment
    (``sandbox/.../search/CombinedFieldQuery.java``)."""
    key = "cfq:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        base = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir)
        toks = F.split(F.col("text"), " ")
        for name, content in (
                ("title", F.array_join(
                    F.slice(toks, 1, _CFQ_TITLE_TOKENS), " ")),
                ("body", F.array_join(
                    F.slice(toks, _CFQ_TITLE_TOKENS + 1, 1 << 20), " "))):
            build_index(spark, docs.select("doc_id",
                                           content.alias("content")),
                        os.path.join(base, name), num_segments=_SEGMENTS,
                        content_col="content", doc_id_col="doc_id",
                        build_id=tag)
        _BUILT[key] = base
    base = _BUILT[key]
    return (Searcher(spark, os.path.join(base, "title")),
            Searcher(spark, os.path.join(base, "body")))


def _q_combined_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F: one pseudo-field from title (w=2) + body (w=1) — pseudo
    df = max over fields, freq = Σ w·tf, norm = byte4-requantized
    Σ w·quantized_len (CombinedFieldQuery + MultiNormsLeafSimScorer)."""
    from lucene_spark.operators.combinedfield import combined_field_topk
    s_title, s_body = _searchers_combined(spark, sf_dir)
    res = combined_field_topk(
        spark, [(s_title, _CFQ_WEIGHTS[0]), (s_body, _CFQ_WEIGHTS[1])],
        "data", k=10)
    return _fmt_topk(res)


def _searcher_sorted(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built with sort_field=n_chars DESC (IndexSorter role):
    local doc ids follow the key, enabling early-terminating sorted
    collection."""
    key = "sorted:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"), "n_chars")
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    sort_field="n_chars", sort_ascending=False)
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_sorted_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_searcher_sorted(spark, sf_dir).sorted_top_k(k=10)
            .select("doc_id", F.col("n_chars").cast("int").alias("n_chars"),
                    "rank"))


def _geo_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic coordinates from doc_id (no external
    data): lat = (id*37 % 18000)/100 - 90, lon = (id*73 % 36000)/100
    - 180 — integer arithmetic then one exact-decimal scale, identical
    in Spark and the DuckDB oracle."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        ((F.col("doc_id") * 37 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("doc_id") * 73 % 36000) / 100.0 - 180.0).alias("lon"))


_GEO_SQL_COORDS = """
geo AS (SELECT doc_id,
               (doc_id * 37 % 18000) / 100.0 - 90.0 AS lat,
               (doc_id * 73 % 36000) / 100.0 - 180.0 AS lon
        FROM documents)"""

_GEO_CENTER = (12.5, -33.25)
_GEO_BOX = (-10.0, 40.0, -60.0, 10.0)   # min_lat, max_lat, min_lon, max_lon
# pentagon + triangular hole (even-odd rule); vertices off the 0.01
# coordinate grid so no point lies exactly on an edge
_GEO_POLY = [[(-20.137, -70.211), (45.313, -55.107), (38.271, 5.733),
              (-5.431, 12.377), (-30.913, -40.529)],
             [(-18.617, -37.413), (-13.231, -35.917), (-15.819, -29.713)]]


def _q_geo_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.operators.geo import box_query
    g = _geo_docs(spark, sf_dir)
    return (box_query(g, *_GEO_BOX)
            .agg(F.count("*").cast("bigint").alias("cnt")))


def _q_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.operators.geo import nearest
    g = _geo_docs(spark, sf_dir)
    return (nearest(g, *_GEO_CENTER, k=10)
            .select("doc_id", "rank",
                    F.floor(F.col("sort_key") * 1000000).cast("bigint")
                    .alias("key_q6")))


def _q_geo_distance_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.operators.geo import distance_query
    g = _geo_docs(spark, sf_dir)
    return (distance_query(g, _GEO_CENTER[0], _GEO_CENTER[1], 25.0)
            .agg(F.count("*").cast("bigint").alias("cnt")))


def _q_geo_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LatLonPoint.newPolygonQuery: docs inside a pentagon with a
    triangular hole (even-odd crossing rule, bbox prefilter pushed to
    the scan)."""
    from lucene_spark.operators.geo import polygon_query
    g = _geo_docs(spark, sf_dir)
    return polygon_query(g, _GEO_POLY).select("doc_id")


# --- Geo3D (spatial3d role): shapes over the same synthetic coordinates.
# The grid is a 1-D diagonal curve over the globe (lat/lon both linear in
# doc_id), so shapes are centered ON the curve (near doc_id 250).
_G3D_CENTER = (2.563, 2.337)          # lat, lon degrees (on the curve)
_G3D_RADIUS_M = 2_347_000.0
_G3D_BOX = (-10.137, 40.313, -60.211, 10.733)  # min/max lat, min/max lon


def _g3d_poly_points():
    """Convex pentagon + triangular hole on a spherical cap around
    (2.5, 2.4) — deterministic closed-form vertices, radians."""
    import math as _m
    cx, cy = 2.5, 2.4
    k = _m.cos(_m.radians(cx))
    pent = [(cx + 16.0 * _m.cos(2 * _m.pi * i / 5 + 0.37),
             cy + 16.0 * _m.sin(2 * _m.pi * i / 5 + 0.37) / k)
            for i in range(5)]
    hole = [(cx + 4.3 * _m.cos(2 * _m.pi * i / 3 + 0.91),
             cy + 4.3 * _m.sin(2 * _m.pi * i / 3 + 0.91) / k)
            for i in range(3)]
    rad = _m.radians
    return ([(rad(a), rad(b)) for a, b in pent],
            [(rad(a), rad(b)) for a, b in hole])


def _g3d_polygon_shape():
    from lucene_spark.operators.geo3d import (SPHERE, make_concave_polygon,
                                              make_convex_polygon)
    pent, hole = _g3d_poly_points()
    return make_convex_polygon(SPHERE, pent,
                               [make_concave_polygon(SPHERE, hole)])


def _q_geo3d_circle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo3DPoint.newDistanceQuery: members of a GeoStandardCircle on
    WGS84, membership tested on the quantized surface point exactly as
    PointInGeo3DShapeQuery does — pure Catalyst plane predicates."""
    from lucene_spark.operators.geo3d import geo3d_distance_query
    g = _geo_docs(spark, sf_dir)
    return geo3d_distance_query(g, _G3D_CENTER[0], _G3D_CENTER[1],
                                _G3D_RADIUS_M).select("doc_id")


def _q_geo3d_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo3DPoint.newBoxQuery → GeoBBoxFactory (GeoRectangle branch)."""
    from lucene_spark.operators.geo3d import (WGS84, geo3d_shape_query,
                                              geo_bbox_from_degrees)
    g = _geo_docs(spark, sf_dir)
    shape = geo_bbox_from_degrees(WGS84, _G3D_BOX[0], _G3D_BOX[1],
                                  _G3D_BOX[2], _G3D_BOX[3])
    return geo3d_shape_query(g, shape).select("doc_id")


def _q_geo3d_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo3DPoint.newShapeQuery over GeoConvexPolygon with a hole
    (geo3d hole convention: the hole is a same-sense concave polygon)."""
    from lucene_spark.operators.geo3d import geo3d_shape_query
    g = _geo_docs(spark, sf_dir)
    return geo3d_shape_query(g, _g3d_polygon_shape()).select("doc_id")


_G3D_PATH = [(0.313, -2.137), (5.237, 8.319), (11.731, 15.913)]
_G3D_PATH_WIDTH_M = 517_000.0
# exact-circle fixture: surface-distance radius 12deg, accuracy 1e-7
# (32 slices / 96 planes; min quantized-point plane margin 2.2e-10)
_G3D_EXACT = (2.563, 2.337, 12.0, 1e-7)


def _g3d_exact_circle_shape():
    from lucene_spark.operators.geo3d import (RADIANS_PER_DEGREE, WGS84,
                                              make_exact_geo_circle)
    la, lo, rdeg, acc = _G3D_EXACT
    return make_exact_geo_circle(WGS84, la * RADIANS_PER_DEGREE,
                                 lo * RADIANS_PER_DEGREE,
                                 rdeg * RADIANS_PER_DEGREE, acc)


def _q_geo3d_exact_circle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoCircleFactory.makeExactGeoCircle: SURFACE-distance circle on
    the WGS84 ellipsoid — adaptively split Vincenty plane sectors."""
    from lucene_spark.operators.geo3d import geo3d_shape_query
    g = _geo_docs(spark, sf_dir)
    return geo3d_shape_query(g, _g3d_exact_circle_shape()).select("doc_id")


def _q_geo3d_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo3DPoint.newPathQuery: members of a GeoStandardPath buffer
    (endpoint caps + four-plane segment slabs) on WGS84."""
    from lucene_spark.operators.geo3d import (WGS84, geo3d_shape_query,
                                              geo_path_from_meters)
    g = _geo_docs(spark, sf_dir)
    shape = geo_path_from_meters(WGS84, _G3D_PATH, _G3D_PATH_WIDTH_M)
    return geo3d_shape_query(g, shape).select("doc_id")


# concave 8-point star around the doc curve, API (degree) point order;
# winding encloses the star (17 members at sf0.01, plane margin 1.9e-4)
_G3D_STAR = [(19.052, 6.279), (5.927, 7.928), (-1.376, 18.968),
             (-3.023, 5.831), (-14.052, -1.479), (-0.927, -3.128),
             (6.376, -14.168), (8.023, -1.031)]


def _g3d_factory_polygon_shape():
    from lucene_spark.operators.geo3d import (WGS84,
                                              geo_polygon_from_degrees)
    return geo_polygon_from_degrees(WGS84, _G3D_STAR)


def _q_geo3d_factory_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo3DPoint.newPolygonQuery end-to-end: Geo3DUtil.fromPolygon
    point-order reversal → GeoPolygonFactory.makeGeoPolygon tiling
    (one concave + convex parts) → composite membership."""
    from lucene_spark.operators.geo3d import geo3d_shape_query
    g = _geo_docs(spark, sf_dir)
    return geo3d_shape_query(g, _g3d_factory_polygon_shape()) \
        .select("doc_id")


def _q_geo3d_docvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo3DDocValuesField: the packed 63-bit (21/axis) docvalue long
    of each surface point. doc_id 0 (the exact south pole) is excluded:
    its x/y ≈ ±1e-16 sit exactly on a floor(v+0.5) bucket boundary
    where the oracle's libm trig last-ulp flips the 21-bit cell — the
    only degenerate row on the synthetic grid."""
    from lucene_spark.operators.geo3d import with_geo3d_docvalue
    g = _geo_docs(spark, sf_dir).filter(F.col("doc_id") >= 1)
    return (with_geo3d_docvalue(g).select("doc_id", "g3d_dv")
            .orderBy("doc_id").limit(25))


def _q_geo3d_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo3DPointSortField (DistanceStyle.ARC) top-10: arc distance from
    the center to each quantized surface point, microradian-quantized."""
    from lucene_spark.operators.geo3d import geo3d_nearest
    g = _geo_docs(spark, sf_dir)
    out = geo3d_nearest(g, _G3D_CENTER[0], _G3D_CENTER[1], k=10,
                        tiebreak=("doc_id",))
    return out.select(
        "doc_id",
        F.floor(F.col("arc_rad") * 1000000).cast("bigint").alias("arc_q6"))


def _searcher_payload(spark: SparkSession, sf_dir: str) -> Searcher:
    """Payload-indexed build: every token of documents.text is annotated
    with a deterministic float payload ``((doc_id + pos) % 7) * 0.5`` as
    a |-delimited suffix, then indexed with DelimitedPayloadTokenFilter
    parsing (whitespace tokenizer, like the reference pairing)."""
    key = "pay:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()).hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.expr("array_join(transform(split(text, ' '), (x, i) -> "
                   "concat(x, '|', cast((doc_id + i) % 7 * 0.5 as string))"
                   "), ' ')").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    payload_delimiter="|", tokenizer="whitespace")
        _BUILT[key] = idx
    return Searcher(spark, _BUILT[key])


def _q_payload_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher_payload(spark, sf_dir)
    return _fmt_topk(s.search(Q.PayloadScore(T_COMMON, "sum"), k=10))


def _q_payload_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanPayloadCheckQuery (``queries/payloads/SpanPayloadCheckQuery
    .java``): phrase T_COMMON T_COMMON2 where T_COMMON's position must
    carry payload 1.5 and T_COMMON2's slot is unconstrained."""
    s = _searcher_payload(spark, sf_dir)
    return _fmt_topk(s.search(
        Q.SpanPayloadCheck((T_COMMON, T_COMMON2), (1.5, None)), k=10))


def _searcher_dv(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index carrying a numeric docvalues column (``n_chars``) with one
    committed ``updateNumericDocValue(Term('dup'), n_chars, 5000)`` —
    in-place field update without reindexing (reference
    ``index/BufferedUpdates.java:63``); readers overlay the update
    generation, merges bake it (tests/test_docvalues.py)."""
    import shutil
    key = os.path.abspath(sf_dir)
    tag = hashlib.md5(f"{_INDEX_VERSION}:dv2:{key}".encode()).hexdigest()[:10]
    idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_dvx_{tag}")
    if not os.path.exists(idx):
        from lucene_spark.operators.docvalues import update_numeric_docvalue
        tmp = idx + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"), "n_chars", "lang")
        build_index(spark, docs, tmp, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True)
        update_numeric_docvalue(spark, tmp, T_RARE, "n_chars", 5000)
        os.rename(tmp, idx)
    return Searcher(spark, idx)


def _q_docvalues_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved per-doc docvalues after the update: overlay value for
    docs containing the update term, base column elsewhere."""
    s = _searcher_dv(spark, sf_dir)
    return s.docvalues("n_chars").select(
        "doc_id", F.col("value").cast("long").alias("dv"))


def _q_function_score_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FunctionScoreQuery reading an UPDATED numeric docvalue: the
    expression sees post-update values (the reference's
    LongValuesSource.fromLongField resolves through update gens)."""
    s = _searcher_dv(spark, sf_dir)
    dv = s.docvalues("n_chars").select("doc_id", "value")
    raw = (F.col("score").cast("double")
           + F.lit(0.1) * F.log(F.lit(1.0) + F.col("value").cast("double")))
    scored = (s.score_all(Q.Term(T_COMMON)).join(dv, "doc_id")
              .withColumn("raw", raw))
    w = Window.orderBy(F.desc("raw"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    _q4(F.col("raw")).alias("fscore_q4")))


def _searcher_feat(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index carrying a static-rank feature (``FeatureField``-style,
    reference ``core/document/FeatureField.java:164``): the value
    ``1 + n_chars % 400`` encoded as ``floatToIntBits(v) >>> 15`` in the
    ``feat_pr`` doc_meta column; docs with ``n_chars % 5 == 0`` carry no
    feature (freq 0 = absent feature term). Values ≤ 511 are
    quantization-exact, so the DuckDB twins score the raw value."""
    import shutil
    key = os.path.abspath(sf_dir)
    tag = hashlib.md5(f"{_INDEX_VERSION}:feat:{key}".encode()).hexdigest()[:10]
    idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_featx_{tag}")
    if not os.path.exists(idx):
        import pandas as pd
        from lucene_spark.functions.feature import encode_feature

        def _enc_fn(n_chars):
            n = n_chars.to_numpy()
            raw = np.where(n % 5 == 0, 0.0, 1.0 + n % 400)
            out = np.zeros(len(raw), dtype=np.int64)
            m = raw > 0
            out[m] = encode_feature(raw[m])
            return pd.Series(out)

        _enc = F.pandas_udf(_enc_fn, "long")

        tmp = idx + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"),
            _enc(F.col("n_chars")).alias("feat_pr"))
        build_index(spark, docs, tmp, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True)
        os.rename(tmp, idx)
    return Searcher(spark, idx)


def _feat_topk(fdf: DataFrame) -> DataFrame:
    # orderBy+limit = TakeOrderedAndProject (per-partition top-k, ≤k·P
    # rows merged on the driver); the rank window then runs over ≤10 rows
    order = [F.desc("score"), F.asc("doc_id")]
    w = Window.orderBy(*order)
    return (fdf.orderBy(*order).limit(10)
            .withColumn("rank", F.row_number().over(w))
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    _q4(F.col("score")).alias("score_q4")))


def _q_feature_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeatureField.newSaturationQuery(feat_pr, 1.5, 8.0) top-10
    (reference ``FeatureField.java:331`` SaturationFunction: pure
    float32 ``w * (1 - pivot / (f + pivot))``)."""
    s = _searcher_feat(spark, sf_dir)
    return _feat_topk(s.feature_query("feat_pr", "saturation",
                                      weight=1.5, pivot=8.0))


def _q_feature_sigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeatureField.newSigmoidQuery(feat_pr, 1.2, 10, 2) top-10
    (reference ``FeatureField.java:408`` SigmoidFunction: float64
    ``w * (1 - k^a / (f^a + k^a))`` cast to float32; a = 2 uses exact
    products)."""
    s = _searcher_feat(spark, sf_dir)
    return _feat_topk(s.feature_query("feat_pr", "sigmoid",
                                      weight=1.2, pivot=10.0, a=2.0))


def _q_bm25_feature_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BooleanQuery MUST(term) + SHOULD(FeatureField.newLogQuery) — the
    reference's canonical static-rank blend (``FeatureField.java:46-49``):
    the SHOULD feature score adds into the BM25 sum (double-sum of float
    clause scores, cast to float)."""
    s = _searcher_feat(spark, sf_dir)
    fdf = (s.feature_query("feat_pr", "log", weight=2.0, a=0.5)
           .withColumnRenamed("score", "fscore"))
    comb = (s.score_all(Q.Term(T_COMMON))
            .join(fdf, "doc_id", "left")
            .select("doc_id",
                    (F.col("score").cast("double")
                     + F.coalesce(F.col("fscore"),
                                  F.lit(0.0).cast("float")).cast("double"))
                    .cast("float").alias("score")))
    return _feat_topk(comb)


def _q_distance_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LongPoint.newDistanceFeatureQuery(n_chars, origin=2500,
    pivot=500) · weight 1.8 over UPDATED docvalues (reference
    ``core/document/LongDistanceFeatureQuery.java:117``): score =
    (float)(boost · pivot / (pivot + |v − origin|)), doubles throughout
    — pure Catalyst, no UDF."""
    s = _searcher_dv(spark, sf_dir)
    return _feat_topk(s.distance_feature_query("n_chars", 2500, 500, 1.8))


def _q_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryRescorer.rescore (reference
    ``core/search/QueryRescorer.java:175-193``): first pass =
    TermQuery(T_COMMON) top-20; second pass = TermQuery(T_COMMON2) at
    weight 2.5; combined = (float)(first + 2.5 · second) on match, else
    first unchanged; (score DESC, doc ASC) truncated to 10."""
    s = _searcher(spark, sf_dir)
    fp = s.search(Q.Term(T_COMMON), k=20)
    r = s.rescore(fp, Q.Term(T_COMMON2), weight=2.5, topn=10)
    return r.select("doc_id", F.col("rank").cast("int").alias("rank"),
                    _q4(F.col("score")).alias("score_q4"))


#: MoreLikeThis selection + OR scoring CTEs (shared by the mlt_top10 and
#: knn_classify_doc0 twins): seed doc 0, top-5 terms (tf>=2, df>=5,
#: classic idf), per-term BM25 partials summed in double → float32.
_MLT_CTES = """,
mltsel AS (
  SELECT f.term
  FROM tf f JOIN dfs d ON f.term = d.term, avgs a
  WHERE f.doc_id = 0 AND f.tf >= 2 AND d.df >= 5
  ORDER BY CAST(f.tf AS DOUBLE)
           * (ln((a.dc + 1) / (d.df + 1)) + CAST(1 AS DOUBLE)) DESC,
           f.term ASC
  LIMIT 5
),
mlw AS (
  SELECT d.term,
         CAST(ln(1 + (a.dc - d.df + CAST(0.5 AS DOUBLE)) /
                 (d.df + CAST(0.5 AS DOUBLE))) AS FLOAT) AS w
  FROM dfs d JOIN mltsel s ON d.term = s.term, avgs a
),
persc AS (
  SELECT f.doc_id,
         CAST(w.w - w.w / (CAST(1 AS FLOAT) + CAST(f.tf AS FLOAT) * c.inv)
              AS DOUBLE) AS ps
  FROM tf f JOIN mlw w ON f.term = w.term
  JOIN normcache c ON f.doc_id = c.doc_id
),
orsc AS (SELECT doc_id, CAST(SUM(ps) AS FLOAT) AS s
         FROM persc GROUP BY doc_id)"""


def _q4(col, scale: int = 10000):
    """floor(x·scale) as long — engine-independent fixed-point projection
    of a double. (Spark's round() rounds the shortest-decimal repr via
    BigDecimal.valueOf while DuckDB rounds the binary value; they disagree
    exactly at rounding boundaries. floor on the same binary double is
    deterministic everywhere.)"""
    return F.floor(col.cast("double") * scale).cast("long")


def _fmt_topk(res: DataFrame) -> DataFrame:
    return res.select("doc_id", F.col("rank").cast("int").alias("rank"),
                      _q4(F.col("score")).alias("score_q4"))


def _search(q, k: int = 10, mode: str = "auto"):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _fmt_topk(_searcher(spark, sf_dir).search(q, k=k, mode=mode))
    return run


# ---------------------------------------------------------------------------
# Oracle SQL builders (DuckDB, float32-exact BM25)
# ---------------------------------------------------------------------------

_QLENS = sorted({int(v) for v in byte4_to_int(np.arange(256))})
_LUT_V = ", ".join(f"({v})" for v in _QLENS)
_LUT_BV = ", ".join(f"({b}, {int(byte4_to_int(np.array([b]))[0])})"
                    for b in range(256))

_PRELUDE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _w_expr(term: str, boost: float | None = None) -> str:
    """float32 idf (optionally float32-multiplied by boost) as a scalar
    subquery string."""
    idf = (f"(SELECT CAST(ln(1 + (a.dc - d.df + CAST(0.5 AS DOUBLE)) / "
           f"(d.df + CAST(0.5 AS DOUBLE))) AS FLOAT) "
           f"FROM dfs d, avgs a WHERE d.term = '{term}')")
    if boost is not None:
        return (f"CAST(CAST(CAST({boost} AS DOUBLE) AS FLOAT) * {idf} "
                f"AS FLOAT)")
    return idf


def _tscore_cte(name: str, term: str, boost: float | None = None) -> str:
    return f"""{name} AS (
  SELECT f.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(f.tf AS FLOAT) * c.inv)) AS s
  FROM tf f
  JOIN normcache c ON f.doc_id = c.doc_id
  CROSS JOIN (SELECT {_w_expr(term, boost)} AS w) w
  WHERE f.term = '{term}'
)"""


def _topk_sql(score_cte: str, k: int = 10, offset: int = 0) -> str:
    return f"""
SELECT doc_id, CAST(rank - {offset} AS INT) AS rank,
       CAST(floor(CAST(s AS DOUBLE) * 10000) AS BIGINT) AS score_q4
FROM (SELECT doc_id, s,
             row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
      FROM {score_cte})
WHERE rank > {offset} AND rank <= {offset + k}"""


# UniNE German light stemmer expressed in SQL (de/GermanLightStemmer
# .java behavior: accent fold, two ordered suffix passes) — the oracle
# twin for the stemmer="german_light" analyzer chain.
_DE_ST_SQL = "('b','d','f','g','h','k','l','m','n','t')"

_STEM_DE_PRELUDE = f"""
WITH tok0 AS (
  SELECT doc_id,
         translate(unnest(string_split(text, ' ')),
                   'äàáâöòóôïìíîüùúû', 'aaaaooooiiiiuuuu') AS t,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
s1 AS (
  SELECT doc_id, pos, CASE
    WHEN length(t) > 5 AND substr(t, length(t)-2, 3) = 'ern'
      THEN substr(t, 1, length(t)-3)
    WHEN length(t) > 4 AND substr(t, length(t)-1, 1) = 'e'
         AND substr(t, length(t), 1) IN ('m','n','r','s')
      THEN substr(t, 1, length(t)-2)
    WHEN length(t) > 3 AND substr(t, length(t), 1) = 'e'
      THEN substr(t, 1, length(t)-1)
    WHEN length(t) > 3 AND substr(t, length(t), 1) = 's'
         AND substr(t, length(t)-1, 1) IN {{st}}
      THEN substr(t, 1, length(t)-1)
    ELSE t END AS t
  FROM tok0
),
tok AS (
  SELECT doc_id, pos, CASE
    WHEN length(t) > 5 AND substr(t, length(t)-2, 3) = 'est'
      THEN substr(t, 1, length(t)-3)
    WHEN length(t) > 4 AND substr(t, length(t)-1, 2) IN ('er','en')
      THEN substr(t, 1, length(t)-2)
    WHEN length(t) > 4 AND substr(t, length(t)-1, 2) = 'st'
         AND substr(t, length(t)-2, 1) IN {{st}}
      THEN substr(t, 1, length(t)-2)
    ELSE t END AS term
  FROM s1
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
""".replace("{st}", _DE_ST_SQL)


# KeywordRepeat → GermanLightStem → RemoveDuplicates in SQL: the
# expanded stream tok2 = surface tokens + stemmed copies at the same
# position where the stem CHANGED the token; tf/df/sumTotalTermFreq
# (so avgdl) come from tok2, norms keep the surface per-doc count
# (discountOverlaps — overlay copies are posInc-0).
_KR_DE_PRELUDE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
kr0 AS (
  SELECT doc_id, pos, term,
         translate(term, 'äàáâöòóôïìíîüùúû', 'aaaaooooiiiiuuuu') AS t
  FROM tok
),
kr1 AS (
  SELECT doc_id, pos, term, CASE
    WHEN length(t) > 5 AND substr(t, length(t)-2, 3) = 'ern'
      THEN substr(t, 1, length(t)-3)
    WHEN length(t) > 4 AND substr(t, length(t)-1, 1) = 'e'
         AND substr(t, length(t), 1) IN ('m','n','r','s')
      THEN substr(t, 1, length(t)-2)
    WHEN length(t) > 3 AND substr(t, length(t), 1) = 'e'
      THEN substr(t, 1, length(t)-1)
    WHEN length(t) > 3 AND substr(t, length(t), 1) = 's'
         AND substr(t, length(t)-1, 1) IN {{st}}
      THEN substr(t, 1, length(t)-1)
    ELSE t END AS t
  FROM kr0
),
kr2 AS (
  SELECT doc_id, pos, term, CASE
    WHEN length(t) > 5 AND substr(t, length(t)-2, 3) = 'est'
      THEN substr(t, 1, length(t)-3)
    WHEN length(t) > 4 AND substr(t, length(t)-1, 2) IN ('er','en')
      THEN substr(t, 1, length(t)-2)
    WHEN length(t) > 4 AND substr(t, length(t)-1, 2) = 'st'
         AND substr(t, length(t)-2, 1) IN {{st}}
      THEN substr(t, 1, length(t)-2)
    ELSE t END AS st
  FROM kr1
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tok2 AS (SELECT doc_id, term, pos FROM tok
         UNION ALL
         SELECT doc_id, st AS term, pos FROM kr2 WHERE st <> term),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM doclen) AS dc,
                 (SELECT count(*) FROM tok2) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
""".replace("{st}", _DE_ST_SQL)


def _stem_de_topk_sql(term: str, k: int = 10) -> str:
    return (_STEM_DE_PRELUDE + ", "
            + _tscore_cte("ts", term) + _topk_sql("ts", k))


def _stem_de_stats_sql(terms) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return (_STEM_DE_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({in_list})""")


# ElisionFilter expressed in SQL (util/ElisionFilter.java:55-70 with
# FrenchAnalyzer.DEFAULT_ARTICLES): same deterministic apostrophe
# injection as the Spark entry (_elide_content), then the article
# prefix before the apostrophe stripped per token. Non-article
# prefixes ("xy'") survive with the apostrophe, exactly like the
# engine's tokenizer+filter chain.
# PatternTokenizer (group mode) in SQL: the same '(^| )(d)' → 'q9'
# injection, then tokens = the [a-z]+ runs of each doc — DuckDB's
# regexp_extract_all is exactly the group-0 finditer walk. Norms come
# from the run counts (injection ADDS one token per d-word).
_PATTERN_TOK_PRELUDE = f"""
WITH injected AS (
  SELECT doc_id,
         regexp_replace(text, '(^| )(d)', '\\1q9\\2', 'g') AS text
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS term
  FROM injected
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""

# PatternReplaceFilter in SQL: inject '9' after every t-initial token,
# then strip trailing digits per token — both steps mirrored, so the
# oracle only agrees if the engine's inject → tokenize → replace chain
# round-trips ('\\29' in RE2 rewrite = group 2 + literal 9, matching
# Java's greedy-valid '$29' parse).
_PATTERN_REPLACE_PRELUDE = f"""
WITH injected AS (
  SELECT doc_id,
         regexp_replace(text, '(^| )(t[a-z]*)', '\\1\\29', 'g') AS text
  FROM documents
),
tok AS (
  SELECT doc_id,
         regexp_replace(unnest(string_split(text, ' ')),
                        '[0-9]+$', '', 'g') AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM injected
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""

# HTMLStripCharFilter + MappingCharFilter twin: the injected markup
# strips back to the original text plus two marker tokens per doc
# ('zq&#120;yz' decodes to 'zqxyz' which the mapping filter rewrites to
# 'zqmapped'; the inline-tag body 'zqtail' survives; the script body,
# comment and tag names vanish) — so the SQL mirror is simply the clean
# text with the two survivors appended.
_HTML_STRIP_PRELUDE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text || ' zqmapped zqtail', ' ')) AS term,
         unnest(range(len(string_split(text || ' zqmapped zqtail', ' '))))
           AS pos
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""

# DelimitedTermFrequencyTokenFilter twin: weighted token bag — the
# appended zqtf|N marker becomes term 'zqtf' with frequency N (7 for
# every fifth doc, 2 otherwise); tf and doclen sum the weights.
_DELIM_TF_PRELUDE = f"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 5 = 0 THEN 7 ELSE 2 END AS xf
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         CAST(1 AS BIGINT) AS f
  FROM base
  UNION ALL
  SELECT doc_id, 'zqtf' AS term, CAST(xf AS BIGINT) AS f FROM base
),
doclen AS (SELECT doc_id, sum(f) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, sum(f) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""

# American Soundex as a SQL expression (the rule, not a lookup): keep
# the first letter, delete H/W from the tail (they don't reset the last
# digit), map letters to digits, collapse duplicate runs ACROSS the
# first-letter boundary, drop the first run digit and the zeros, pad.
# RE2 has no backreferences, so the run collapse is one replace per
# digit ('1+' -> '1' ... '9+' -> '9'; zeros are dropped afterwards).
_SOUNDEX_DIGITS = "01230120022455012623010202"


def _soundex_sql(col: str) -> str:
    d = (f"translate(upper(substr({col}, 1, 1)) || "
         f"regexp_replace(upper(substr({col}, 2)), '[HW]', '', 'g'), "
         f"'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SOUNDEX_DIGITS}')")
    for digit in "0123456789":
        d = f"regexp_replace({d}, '{digit}+', '{digit}', 'g')"
    return (f"upper(substr({col}, 1, 1)) || "
            f"substr(replace(substr({d}, 2), '0', '') || '000', 1, 3)")


# PhoneticFilter(Soundex, inject=true) twin: overlays join the token
# bag for tf/df/sumTotalTermFreq but NOT the per-doc norm length.
_PHONETIC_PRELUDE = f"""
WITH base AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tok AS (
  SELECT doc_id, term FROM base
  UNION ALL
  SELECT doc_id, {_soundex_sql('term')} AS term FROM base
),
doclen AS (SELECT doc_id, count(*) AS dl FROM base GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM doclen) AS dc,
                 (SELECT count(*) FROM tok) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _phon_inject_prelude(tokmap: dict,
                         include_original: bool = True) -> str:
    """Twin prelude for the synthetic-name phonetic indexes: content is
    NAMES[doc_id%16] NAMES[doc_id%7]; each name expands to the token
    list pinned from the commons-codec golden fixture — original kept
    for the inject-mode filters, dropped for the replace-mode ones
    (Beider-Morse). doc_len is 2 everywhere (one token per source word
    holds the position slot, the rest are posInc=0 overlays);
    sumTotalTermFreq counts every emitted token."""
    vals = ", ".join(
        "({}, [{}])".format(
            i, ", ".join(f"'{t}'" for t in
                         (([n] if include_original else []) + tokmap[n])))
        for i, n in enumerate(_PHON_NAMES))
    return f"""
WITH nm(i, toks) AS (VALUES {vals}),
tok AS (
  SELECT d.doc_id, unnest(a.toks || b.toks) AS term
  FROM documents d
  JOIN nm a ON a.i = d.doc_id % 16
  JOIN nm b ON b.i = d.doc_id % 7
),
doclen AS (SELECT doc_id, 2 AS dl FROM documents),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM documents) AS dc,
                 (SELECT count(*) FROM tok) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _synth_tok_prelude(names, tokmap: dict, mod_a: int,
                       mod_b: int) -> str:
    """Generic twin prelude for the synthetic two-token corpora:
    content = NAMES[doc_id%A] NAMES[doc_id%B]; each name unnests to its
    pinned token list (replace-mode: originals absent unless mapped to
    themselves). doc_len = 2, sttf counts every emitted token."""
    vals = ", ".join(
        "({}, [{}])".format(i, ", ".join(f"'{t}'" for t in tokmap[n]))
        for i, n in enumerate(names))
    return f"""
WITH nm(i, toks) AS (VALUES {vals}),
tok AS (
  SELECT d.doc_id, unnest(a.toks || b.toks) AS term
  FROM documents d
  JOIN nm a ON a.i = d.doc_id % {mod_a}
  JOIN nm b ON b.i = d.doc_id % {mod_b}
),
doclen AS (SELECT doc_id, 2 AS dl FROM documents),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM documents) AS dc,
                 (SELECT count(*) FROM tok) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _varlen_tok_prelude(forms, tokmap) -> str:
    """Variable-length twin prelude for a synthetic corpus of pinned
    sentences (the _smartcn_prelude shape, parameterized): content =
    forms[doc_id%12] forms[doc_id%7], each form's token stream pinned
    from the golden-verified tokenizer."""
    vals = ", ".join(
        "({}, [{}], {})".format(
            i, ", ".join(f"'{t}'" for t in tokmap[n]), len(tokmap[n]))
        for i, n in enumerate(forms))
    return f"""
WITH nm(i, toks, cnt) AS (VALUES {vals}),
tok AS (
  SELECT d.doc_id, unnest(a.toks || b.toks) AS term
  FROM documents d
  JOIN nm a ON a.i = d.doc_id % 12
  JOIN nm b ON b.i = d.doc_id % 7
),
doclen AS (
  SELECT d.doc_id, a.cnt + b.cnt AS dl
  FROM documents d
  JOIN nm a ON a.i = d.doc_id % 12
  JOIN nm b ON b.i = d.doc_id % 7
),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM documents) AS dc,
                 (SELECT count(*) FROM tok) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _smartcn_prelude() -> str:
    """Variable-length twin prelude for the smartcn synthetic corpus:
    content = FORMS[doc_id%12] FORMS[doc_id%7], each form a full
    sentence whose pinned token stream the engine's golden-verified
    segmenter produced; doc_len = len(toks_a) + len(toks_b)."""
    vals = ", ".join(
        "({}, [{}], {})".format(
            i, ", ".join(f"'{t}'" for t in _SMARTCN_TOKENS[n]),
            len(_SMARTCN_TOKENS[n]))
        for i, n in enumerate(_SMARTCN_FORMS))
    return f"""
WITH nm(i, toks, cnt) AS (VALUES {vals}),
tok AS (
  SELECT d.doc_id, unnest(a.toks || b.toks) AS term
  FROM documents d
  JOIN nm a ON a.i = d.doc_id % 12
  JOIN nm b ON b.i = d.doc_id % 7
),
doclen AS (
  SELECT d.doc_id, a.cnt + b.cnt AS dl
  FROM documents d
  JOIN nm a ON a.i = d.doc_id % 12
  JOIN nm b ON b.i = d.doc_id % 7
),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM documents) AS dc,
                 (SELECT count(*) FROM tok) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _phon_stats_sql(tokmap: dict, terms,
                    include_original: bool = True) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return (_phon_inject_prelude(tokmap, include_original)
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({in_list})""")


# UAX29URLEmailTokenizer twin: the injected URL/email survive as single
# lowercase tokens ('see'/'mail' words plus the doc_id-dependent URL)
_URLEMAIL_PRELUDE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(
             text || ' see http://zq.example.com/p?q='
                  || CAST(doc_id % 3 AS VARCHAR)
                  || ' mail bob@zqmail.org', ' ')) AS term
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _append_marker_prelude(markers: str) -> str:
    """BM25 prelude over ``text || ' <markers>'`` — the twin for any
    chain whose injected wrapper reduces to appending constant tokens
    (scandinavian fold, hyphen join)."""
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text || ' {markers}', ' ')) AS term,
         unnest(range(len(string_split(text || ' {markers}', ' '))))
           AS pos
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


# SetKeywordMarkerFilter + StemmerOverrideFilter twin over the German
# light chain: the raw surface form rides along; keyword-marked terms
# bypass the stemmer, overridden terms take their forced stem, the rest
# run the normal two-pass rules.
_MARKER_PRELUDE = f"""
WITH tokraw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS raw,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
tok0 AS (
  SELECT doc_id, pos, raw,
         translate(raw, 'äàáâöòóôïìíîüùúû', 'aaaaooooiiiiuuuu') AS t
  FROM tokraw
),
s1 AS (
  SELECT doc_id, pos, raw, CASE
    WHEN length(t) > 5 AND substr(t, length(t)-2, 3) = 'ern'
      THEN substr(t, 1, length(t)-3)
    WHEN length(t) > 4 AND substr(t, length(t)-1, 1) = 'e'
         AND substr(t, length(t), 1) IN ('m','n','r','s')
      THEN substr(t, 1, length(t)-2)
    WHEN length(t) > 3 AND substr(t, length(t), 1) = 'e'
      THEN substr(t, 1, length(t)-1)
    WHEN length(t) > 3 AND substr(t, length(t), 1) = 's'
         AND substr(t, length(t)-1, 1) IN {{st}}
      THEN substr(t, 1, length(t)-1)
    ELSE t END AS t
  FROM tok0
),
tok AS (
  SELECT doc_id, pos, CASE
    WHEN raw = 'filter' THEN raw
    WHEN raw = 'table' THEN 'zqtbl'
    WHEN length(t) > 5 AND substr(t, length(t)-2, 3) = 'est'
      THEN substr(t, 1, length(t)-3)
    WHEN length(t) > 4 AND substr(t, length(t)-1, 2) IN ('er','en')
      THEN substr(t, 1, length(t)-2)
    WHEN length(t) > 4 AND substr(t, length(t)-1, 2) = 'st'
         AND substr(t, length(t)-2, 1) IN {{st}}
      THEN substr(t, 1, length(t)-2)
    ELSE t END AS term
  FROM s1
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
""".replace("{st}", _DE_ST_SQL)

# DictionaryCompoundWordTokenFilter in SQL: tok2 = surface tokens +
# one dictionary-word overlay per substring OCCURRENCE inside every
# ≥5-char token (the per-start scan; the chosen words have no
# self-overlap, so the replace-count equals the start-position count).
# Norms = surface counts, sttf counts the overlays.
_COMPOUND_PRELUDE = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 'scanindextable ' || text
              ELSE text END AS text
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM injected
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
sub AS (
  SELECT doc_id, term FROM (
    SELECT t.doc_id, d.w AS term,
           unnest(range((length(t.term)
                         - length(replace(t.term, d.w, '')))
                        // length(d.w))) AS k
    FROM tok t, (VALUES ('scan'), ('index'), ('table')) d(w)
    WHERE length(t.term) >= 5)
),
tok2 AS (SELECT doc_id, term FROM tok
         UNION ALL
         SELECT doc_id, term FROM sub),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM doclen) AS dc,
                 (SELECT count(*) FROM tok2) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""

# PatternCaptureGroupTokenFilter (camelCase set, preserveOriginal=
# False) in SQL: the injected camel token has a FIXED capture list
# (get/data/value post-lowercase); every other (lowercase alnum) token
# decomposes into its alpha + digit runs — exactly what the camel
# pattern set captures on uppercase-free input — with the first run
# replacing the original (so norms stay the surface token count).
_CAPTURE_PRELUDE = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 'getDataValue ' || text
              ELSE text END AS text
  FROM documents
),
tok0 AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM injected
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok0 GROUP BY doc_id),
tok AS (
  SELECT doc_id, unnest(
    CASE WHEN term = 'getDataValue' THEN ['get', 'data', 'value']
         WHEN len(regexp_extract_all(term, '[a-z]+|[0-9]+')) = 0
           THEN [term]
         ELSE regexp_extract_all(term, '[a-z]+|[0-9]+') END) AS term
  FROM tok0
),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM doclen) AS dc,
                 (SELECT count(*) FROM tok) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""

_FR_ART_RE = "(l|m|t|qu|n|s|j|d|c|jusqu|quoiqu|lorsqu|puisqu)"

_ELISION_FR_PRELUDE = f"""
WITH injected AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
           '(^| )([aeiou])', '\\1l''\\2', 'g'),
           '(^| )(s)', '\\1qu''\\2', 'g'),
           '(^| )(t)', '\\1xy''\\2', 'g') AS text
  FROM documents
),
tok AS (
  SELECT doc_id,
         regexp_replace(unnest(string_split(text, ' ')),
                        '^{_FR_ART_RE}''', '') AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM injected
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _elision_fr_topk_sql(term: str, k: int = 10) -> str:
    return (_ELISION_FR_PRELUDE + ", "
            + _tscore_cte("ts", term) + _topk_sql("ts", k))


def _elision_fr_stats_sql(terms) -> str:
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (_ELISION_FR_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({in_list})""")


# CJKAnalyzer chain in SQL: the injected ideograph runs have a FIXED
# post-analysis bigram stream (数据处理 → [数据,据处,处理]; 数据 → [数据]),
# so the analyzed token list is the injection bigrams (by the same
# doc_id % 7 / % 11 conditions the Spark side injects with) prepended
# to the space-split base text — the ASCII base tokens pass through the
# CJK chain unchanged.
_CJK_PRELUDE = f"""
WITH tok AS (
  SELECT doc_id, unnest(
    list_concat(
      list_concat(
        CASE WHEN doc_id % 7 = 0 THEN ['数据', '据处', '处理']
             ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN doc_id % 11 = 0 THEN ['数据']
             ELSE CAST([] AS VARCHAR[]) END),
      string_split(text, ' '))) AS term
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _cjk_topk_sql(term: str, k: int = 10) -> str:
    return (_CJK_PRELUDE + ", "
            + _tscore_cte("ts", term) + _topk_sql("ts", k))


def _cjk_stats_sql(terms) -> str:
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (_CJK_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({in_list})""")


# GreekAnalyzer chain in SQL: the injected Greek words have a FIXED
# post-analysis stream (Προϊόντα πολλαπλές → [προιοντ, πολλαπλ];
# ΑΝΑΓΚΕΣ και γλώσσας → [αναγκ, γλωσσ] — και is a stop word in the
# folded stop set and is dropped, so it is absent from the token list
# AND from the doc length), prepended to the space-split base text —
# ASCII base tokens pass through fold+stop+stem unchanged.
_GREEK_PRELUDE = f"""
WITH tok AS (
  SELECT doc_id, unnest(
    list_concat(
      list_concat(
        CASE WHEN doc_id % 7 = 0 THEN ['προιοντ', 'πολλαπλ']
             ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN doc_id % 11 = 0 THEN ['αναγκ', 'γλωσσ']
             ELSE CAST([] AS VARCHAR[]) END),
      string_split(text, ' '))) AS term
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _greek_topk_sql(term: str, k: int = 10) -> str:
    return (_GREEK_PRELUDE + ", "
            + _tscore_cte("ts", term) + _topk_sql("ts", k))


def _greek_stats_sql(terms) -> str:
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (_GREEK_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({in_list})""")


# Snowball Russian stemmer through the build, in SQL: the injected
# Cyrillic surface forms have FIXED reference-golden stems (буйством →
# буйств, любовные → любовн; студенческом → студенческ, трубки →
# трубк — pinned from tests/data/stem_goldens/snowball_russian.tsv),
# prepended by the same doc_id % 7 / % 11 conditions to the space-split
# base text; ASCII base tokens have no Cyrillic vowels (RV = ∅) and
# pass through the stemmer unchanged.
_SNOW_RU_PRELUDE = f"""
WITH tok AS (
  SELECT doc_id, unnest(
    list_concat(
      list_concat(
        CASE WHEN doc_id % 7 = 0 THEN ['буйств', 'любовн']
             ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN doc_id % 11 = 0 THEN ['студенческ', 'трубк']
             ELSE CAST([] AS VARCHAR[]) END),
      string_split(text, ' '))) AS term
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _snowball_ru_topk_sql(term: str, k: int = 10) -> str:
    return (_SNOW_RU_PRELUDE + ", "
            + _tscore_cte("ts", term) + _topk_sql("ts", k))


def _snowball_ru_stats_sql(terms) -> str:
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (_SNOW_RU_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({in_list})""")


# WordDelimiterGraphFilter chain in SQL: the injected identifiers have
# FIXED post-analysis streams (Wi-Fi -> wi,fi + overlap wifi;
# PowerShot's XL-500 -> power,shot,xl,500 + overlaps powershot,xl500),
# so tok = injected terms + space-split base (unchanged single-subword
# fast path). Norm length counts position-consuming tokens only
# (base + 2 for Wi-Fi, base + 4 for the %9 injection); sttf counts
# everything including the catenation overlaps.
_WDGF_PRELUDE = f"""
WITH tok AS (
  SELECT doc_id, unnest(
    list_concat(
      list_concat(
        CASE WHEN doc_id % 5 = 0 THEN ['wi', 'fi', 'wifi']
             ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN doc_id % 9 = 0
             THEN ['power', 'shot', 'powershot', 'xl', '500', 'xl500']
             ELSE CAST([] AS VARCHAR[]) END),
      string_split(text, ' '))) AS term
  FROM documents
),
doclen AS (
  SELECT doc_id,
         count(*) - (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
                  - (CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 0 END) AS dl
  FROM tok GROUP BY doc_id
),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM documents) AS dc,
                 (SELECT count(*) FROM tok) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _wdgf_topk_sql(term: str, k: int = 10) -> str:
    return (_WDGF_PRELUDE + ", "
            + _tscore_cte("ts", term) + _topk_sql("ts", k))


def _wdgf_stats_sql(terms) -> str:
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (_WDGF_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({in_list})""")


# (Edge)NGramTokenFilter chain in SQL: grams enumerate per token —
# every (start, size) instance is one emitted gram, so tf/ttf are plain
# counts over the gram table. Norm length counts EMITTING tokens
# (length >= minGram — the posInc>0 ones; the posInc=0 grams are
# overlaps and discountOverlaps=true subtracts them), while the
# collection sttf counts every gram (FieldInvertState.length includes
# overlaps; BM25Similarity.avgFieldLength = sumTotalTermFreq/docCount).
def _ngram_prelude(mn: int, mx: int, edge: bool) -> str:
    if edge:
        grams = f"""
gsize AS (
  SELECT doc_id, term, unnest(range({mn}, {mx + 1})) AS n
  FROM tok WHERE length(term) >= {mn}
),
grams AS (
  SELECT doc_id, substr(term, 1, CAST(n AS INT)) AS term
  FROM gsize WHERE length(term) >= n
)"""
    else:
        grams = f"""
gsize AS (
  SELECT doc_id, term, unnest(range({mn}, {mx + 1})) AS n
  FROM tok WHERE length(term) >= {mn}
),
gstart AS (
  SELECT doc_id, term, n, unnest(range(1, length(term) - n + 2)) AS i
  FROM gsize WHERE length(term) >= n
),
grams AS (
  SELECT doc_id, substr(term, CAST(i AS INT), CAST(n AS INT)) AS term
  FROM gstart
)"""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
),
doclen AS (
  SELECT doc_id,
         count(*) FILTER (WHERE length(term) >= {mn}) AS dl
  FROM tok GROUP BY doc_id
),{grams},
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM documents) AS dc,
                 (SELECT count(*) FROM grams) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a WHERE d.dl > 0
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM grams GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _ngram_topk_sql(term: str, mn: int, mx: int, edge: bool,
                    k: int = 10) -> str:
    return (_ngram_prelude(mn, mx, edge) + ", "
            + _tscore_cte("ts", term) + _topk_sql("ts", k))


# PathHierarchyTokenizer in SQL: the synthetic path column has a FIXED
# three-token stream ('/src', '/src/m<k>', full path), all at one
# position -> norm length 1, sttf = 3 * docCount.
_PATH_PRELUDE = f"""
WITH paths AS (
  SELECT doc_id,
         '/src/m' || CAST(doc_id % 7 AS VARCHAR) AS dirp,
         '/src/m' || CAST(doc_id % 7 AS VARCHAR) || '/f' ||
           CAST(doc_id % 31 AS VARCHAR) || '.py' AS p
  FROM documents
),
tok AS (SELECT doc_id, unnest(['/src', dirp, p]) AS term FROM paths),
doclen AS (SELECT doc_id, 1 AS dl FROM documents),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM documents) AS dc,
                 (SELECT count(*) FROM tok) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
"""


def _path_topk_sql(term: str, k: int = 10) -> str:
    return (_PATH_PRELUDE + ", "
            + _tscore_cte("ts", term) + _topk_sql("ts", k))


def _path_stats_sql(terms) -> str:
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (_PATH_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({in_list})""")


# CombinedFieldQuery (BM25F) expressed in SQL: title = first 4 tokens
# (w=2), body = rest (w=1). Pseudo stats per CombinedFieldQuery.java:
# df = max over fields, sumTTF = Σ w·sumTTF_f (integer weights → the
# per-field long truncation is exact); per-doc freq = Σ w·tf in f32;
# per-doc norm = intToByte4(round(Σ w·LENGTH_TABLE[byte_f])) — both
# quantizations via the same byte4 LUT trick as the base prelude.
def _combined_field_topk_sql(term: str, k: int = 10,
                             wt: float = 2.0, wb: float = 1.0,
                             nt: int = 4) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         CASE WHEN unnest(range(len(string_split(text, ' ')))) < {nt}
              THEN 0 ELSE 1 END AS f
  FROM documents
),
dl AS (SELECT doc_id, f, count(*) AS dl FROM tok GROUP BY 1, 2),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT count(DISTINCT doc_id) AS dc,
                 sum(CASE WHEN f = 0 THEN dl ELSE 0 END) AS sttf_t,
                 sum(CASE WHEN f = 1 THEN dl ELSE 0 END) AS sttf_b
          FROM dl),
avgs AS (SELECT CAST(({wt:.0f} * sttf_t + {wb:.0f} * sttf_b)
                     / CAST(dc AS DOUBLE) AS FLOAT) AS avgdl, dc
         FROM stats),
qlen AS (SELECT doc_id, f,
                (SELECT max(v) FROM lut WHERE v <= d.dl) AS ql
         FROM dl d),
comb AS (
  SELECT doc_id,
         CAST(CAST(CAST({wt} AS DOUBLE) AS FLOAT)
                * CAST(max(CASE WHEN f = 0 THEN ql END) AS FLOAT)
            + CAST(CAST({wb} AS DOUBLE) AS FLOAT)
                * CAST(max(CASE WHEN f = 1 THEN ql END) AS FLOAT)
              AS FLOAT) AS clen
  FROM qlen GROUP BY doc_id),
cnorm AS (
  SELECT doc_id,
         (SELECT max(v) FROM lut
          WHERE v <= CAST(floor(CAST(clen AS FLOAT)
                                + CAST(CAST(0.5 AS DOUBLE) AS FLOAT))
                          AS BIGINT)) AS qc
  FROM comb),
normcache AS (
  SELECT n.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST(n.qc AS FLOAT) / a.avgdl)) AS inv
  FROM cnorm n, avgs a
),
tf AS (SELECT doc_id, f, count(*) AS tf FROM tok
       WHERE term = '{term}' GROUP BY 1, 2),
pseudo AS (SELECT max(df) AS df
           FROM (SELECT f, count(*) AS df FROM tf GROUP BY f)),
w AS (SELECT CAST(ln(1 + (a.dc - p.df + CAST(0.5 AS DOUBLE))
                      / (p.df + CAST(0.5 AS DOUBLE))) AS FLOAT) AS w
      FROM pseudo p, avgs a),
freq AS (
  SELECT doc_id,
         CAST(CAST(CAST({wt} AS DOUBLE) AS FLOAT)
                * CAST(coalesce(max(CASE WHEN f = 0 THEN tf END), 0)
                       AS FLOAT)
            + CAST(CAST({wb} AS DOUBLE) AS FLOAT)
                * CAST(coalesce(max(CASE WHEN f = 1 THEN tf END), 0)
                       AS FLOAT)
              AS FLOAT) AS fr
  FROM tf GROUP BY doc_id),
ts AS (
  SELECT q.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + q.fr * c.inv)) AS s
  FROM freq q JOIN normcache c ON q.doc_id = c.doc_id
  CROSS JOIN w
)""" + _topk_sql("ts", k)


def _term_topk_sql(term: str, k: int = 10, boost: float | None = None) -> str:
    return _PRELUDE + ", " + _tscore_cte("ts", term, boost) + _topk_sql("ts", k)


def _or2_sql(t1: str, t2: str, k: int = 10) -> str:
    return (_PRELUDE + ", " + _tscore_cte("ta", t1) + ", "
            + _tscore_cte("tb", t2) + f""",
orsc AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CAST(COALESCE(CAST(a.s AS DOUBLE), 0) +
              COALESCE(CAST(b.s AS DOUBLE), 0) AS FLOAT) AS s
  FROM ta a FULL OUTER JOIN tb b ON a.doc_id = b.doc_id
)""" + _topk_sql("orsc", k))


def _or3_sql(t1: str, t2: str, t3: str, k: int = 10) -> str:
    return (_PRELUDE + ", " + _tscore_cte("ta", t1) + ", "
            + _tscore_cte("tb", t2) + ", " + _tscore_cte("tc", t3) + f""",
ab AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(CAST(a.s AS DOUBLE), 0) + COALESCE(CAST(b.s AS DOUBLE), 0) AS s2
  FROM ta a FULL OUTER JOIN tb b ON a.doc_id = b.doc_id
),
orsc AS (
  SELECT COALESCE(x.doc_id, c.doc_id) AS doc_id,
         CAST(COALESCE(x.s2, 0) + COALESCE(CAST(c.s AS DOUBLE), 0) AS FLOAT) AS s
  FROM ab x FULL OUTER JOIN tc c ON x.doc_id = c.doc_id
)""" + _topk_sql("orsc", k))


def _and2_sql(t1: str, t2: str, k: int = 10) -> str:
    return (_PRELUDE + ", " + _tscore_cte("ta", t1) + ", "
            + _tscore_cte("tb", t2) + f""",
andsc AS (
  SELECT a.doc_id,
         CAST(CAST(a.s AS DOUBLE) + CAST(b.s AS DOUBLE) AS FLOAT) AS s
  FROM ta a JOIN tb b ON a.doc_id = b.doc_id
)""" + _topk_sql("andsc", k))


def _not_sql(pos: str, neg: str, k: int = 10) -> str:
    return (_PRELUDE + ", " + _tscore_cte("ta", pos) + f""",
notsc AS (
  SELECT a.doc_id, a.s FROM ta a
  WHERE NOT EXISTS (SELECT 1 FROM tf n
                    WHERE n.doc_id = a.doc_id AND n.term = '{neg}')
)""" + _topk_sql("notsc", k))


def _filter_sql(pos: str, filt: str, k: int = 10) -> str:
    """BooleanClause.Occur.FILTER twin: the filter term intersects the
    match set, the score is the positive clause's alone."""
    return (_PRELUDE + ", " + _tscore_cte("ta", pos) + f""",
fsc AS (
  SELECT a.doc_id, a.s FROM ta a
  WHERE EXISTS (SELECT 1 FROM tf n
                WHERE n.doc_id = a.doc_id AND n.term = '{filt}')
)""" + _topk_sql("fsc", k))


def _synonym_sql(t1: str, t2: str, k: int = 10) -> str:
    return (_PRELUDE + f""",
syn AS (SELECT doc_id, sum(tf) AS freq FROM tf
        WHERE term IN ('{t1}', '{t2}') GROUP BY 1),
synw AS (SELECT CAST(ln(1 + (a.dc - mx.df + CAST(0.5 AS DOUBLE)) /
                       (mx.df + CAST(0.5 AS DOUBLE))) AS FLOAT) AS w
         FROM (SELECT max(df) AS df FROM dfs
               WHERE term IN ('{t1}', '{t2}')) mx, avgs a),
synsc AS (
  SELECT s.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(s.freq AS FLOAT) * c.inv)) AS s
  FROM syn s JOIN normcache c ON s.doc_id = c.doc_id CROSS JOIN synw w
)""" + _topk_sql("synsc", k))


def _synonym_boosted_sql(pairs: tuple[tuple[str, float], ...],
                         k: int = 10) -> str:
    """Boosted SynonymQuery twin (SynonymQuery.java:80,537-543): stats
    unboosted (df = max); per-doc freq = sum of float32(boost * tf)
    products summed in float64 (exact) then cast float32."""
    terms = ", ".join(f"'{t}'" for t, _ in pairs)
    boost_case = " ".join(f"WHEN '{t}' THEN CAST({b} AS FLOAT)"
                          for t, b in pairs)
    return (_PRELUDE + f""",
syn AS (SELECT doc_id,
               sum(CAST(CAST(CASE term {boost_case} END AS FLOAT)
                        * CAST(tf AS FLOAT) AS DOUBLE)) AS freq
        FROM tf WHERE term IN ({terms}) GROUP BY 1),
synw AS (SELECT CAST(ln(1 + (a.dc - mx.df + CAST(0.5 AS DOUBLE)) /
                       (mx.df + CAST(0.5 AS DOUBLE))) AS FLOAT) AS w
         FROM (SELECT max(df) AS df FROM dfs
               WHERE term IN ({terms})) mx, avgs a),
synsc AS (
  SELECT s.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(s.freq AS FLOAT) * c.inv)) AS s
  FROM syn s JOIN normcache c ON s.doc_id = c.doc_id CROSS JOIN synw w
  WHERE s.freq > 0
)""" + _topk_sql("synsc", k))


def _phrase_sql(t1: str, t2: str, k: int = 10) -> str:
    return (_PRELUDE + f""",
ph AS (SELECT p1.doc_id, count(*) AS freq
       FROM tok p1 JOIN tok p2
         ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
       WHERE p1.term = '{t1}' AND p2.term = '{t2}' GROUP BY 1),
phw AS (SELECT CAST(CAST(w1.w AS DOUBLE) + CAST(w2.w AS DOUBLE) AS FLOAT) AS w
        FROM (SELECT {_w_expr(t1)} AS w) w1, (SELECT {_w_expr(t2)} AS w) w2),
phsc AS (
  SELECT p.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(p.freq AS FLOAT) * c.inv)) AS s
  FROM ph p JOIN normcache c ON p.doc_id = c.doc_id CROSS JOIN phw w
)""" + _topk_sql("phsc", k))


def _multi_phrase_sql(slots: tuple[tuple[str, ...], ...],
                      k: int = 10) -> str:
    """MultiPhraseQuery twin (see plans.query.MultiPhrase): slot i's
    position set is the DISTINCT union of its alternatives
    (UnionPostingsEnum — duplicate (doc, pos) hits count once); start p
    matches when every slot i has a hit at p + i. Weight: idf summed in
    float64 over every slot-term with df > 0, in slot order (absent
    terms contribute exactly 0.0), then cast to float32."""
    slots = tuple(tuple(dict.fromkeys(s)) for s in slots)
    n = len(slots)
    ctes = ",\n".join(
        "mp{j} AS (SELECT DISTINCT doc_id, pos FROM tok WHERE term IN ({ts}))"
        .format(j=j, ts=", ".join(f"'{t}'" for t in slot))
        for j, slot in enumerate(slots))
    joins = "\n       ".join(
        f"JOIN mp{j} ON mp{j}.doc_id = mp0.doc_id "
        f"AND mp{j}.pos = mp0.pos + {j}" for j in range(1, n))
    w_sum = " + ".join(f"COALESCE(CAST({_w_expr(t)} AS DOUBLE), 0)"
                       for slot in slots for t in slot)
    return (_PRELUDE + f""",
{ctes},
ph AS (SELECT mp0.doc_id, count(*) AS freq
       FROM mp0
       {joins}
       GROUP BY 1),
phw AS (SELECT CAST({w_sum} AS FLOAT) AS w),
phsc AS (
  SELECT p.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(p.freq AS FLOAT) * c.inv)) AS s
  FROM ph p JOIN normcache c ON p.doc_id = c.doc_id CROSS JOIN phw w
)""" + _topk_sql("phsc", k))


def _gap_phrase_sql(terms: tuple[str, ...],
                    positions: tuple[int, ...], k: int = 10) -> str:
    """Exact phrase with explicit builder positions (PhraseQuery.java:103):
    clause j at start + (positions[j] - positions[0])."""
    n = len(terms)
    deltas = [p - positions[0] for p in positions]
    joins = "\n       ".join(
        f"JOIN tok p{j} ON p{j}.doc_id = p0.doc_id "
        f"AND p{j}.pos = p0.pos + {deltas[j]}" for j in range(1, n))
    conds = " AND ".join(f"p{j}.term = '{t}'" for j, t in enumerate(terms))
    w_sum = " + ".join(f"CAST({_w_expr(t)} AS DOUBLE)" for t in terms)
    return (_PRELUDE + f""",
ph AS (SELECT p0.doc_id, count(*) AS freq
       FROM tok p0
       {joins}
       WHERE {conds} GROUP BY 1),
phw AS (SELECT CAST({w_sum} AS FLOAT) AS w),
phsc AS (
  SELECT p.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(p.freq AS FLOAT) * c.inv)) AS s
  FROM ph p JOIN normcache c ON p.doc_id = c.doc_id CROSS JOIN phw w
)""" + _topk_sql("phsc", k))


def _multi_phrase_pattern_sql(slot_preds: tuple[str, ...],
                              k: int = 10) -> str:
    """MultiPhrase twin with PATTERN slots ("app* as a multi-phrase"):
    each slot is a SQL predicate over ``term`` (IN-list, LIKE-prefix);
    slot position sets are DISTINCT unions over the predicate, and the
    weight sums each slot's df>0 idfs (float32 idfs summed in float64 —
    exact, hence order-free, matching the engine's dictionary-order
    sum)."""
    n = len(slot_preds)
    ctes = ",\n".join(
        f"mp{j} AS (SELECT DISTINCT doc_id, pos FROM tok WHERE {p})"
        for j, p in enumerate(slot_preds))
    joins = "\n       ".join(
        f"JOIN mp{j} ON mp{j}.doc_id = mp0.doc_id "
        f"AND mp{j}.pos = mp0.pos + {j}" for j in range(1, n))
    w_sum = " + ".join(
        f"""COALESCE((SELECT sum(CAST(
             CAST(ln(1 + (a.dc - d.df + CAST(0.5 AS DOUBLE)) /
                    (d.df + CAST(0.5 AS DOUBLE))) AS FLOAT) AS DOUBLE))
           FROM dfs d, avgs a WHERE {p.replace("term", "d.term")}), 0)"""
        for p in slot_preds)
    return (_PRELUDE + f""",
{ctes},
ph AS (SELECT mp0.doc_id, count(*) AS freq
       FROM mp0
       {joins}
       GROUP BY 1),
phw AS (SELECT CAST({w_sum} AS FLOAT) AS w),
phsc AS (
  SELECT p.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(p.freq AS FLOAT) * c.inv)) AS s
  FROM ph p JOIN normcache c ON p.doc_id = c.doc_id CROSS JOIN phw w
)""" + _topk_sql("phsc", k))


def _lucene_sloppy_sql(terms: tuple[str, ...], slop: int,
                       k: int = 10,
                       positions: tuple[int, ...] | None = None) -> str:
    """OPERATIONAL SloppyPhraseMatcher twin (SloppyPhraseMatcher.java:
    174-206) as a recursive-CTE walk per doc: pop the (position,
    offset)-minimum clause, closure = its last adjusted position <=
    second-min, matchLength = end - closure (end = max CURRENT
    position), freq += f32 1/(1+ml) when ml <= slop (PhraseScorer's
    float += float chain), jump past second-min; stop on exhaustion
    (the leftover match is the same closure report). Mirrors
    functions/sloppy.py, which is golden-exact vs real Lucene."""
    n = len(terms)
    offs = list(positions) if positions else list(range(n))
    arr_sel = ", ".join(
        f"(SELECT list(pos - {offs[j]} ORDER BY pos) FROM tok t "
        f"WHERE t.term = '{t}' AND t.doc_id = d.doc_id) AS a{j}"
        for j, t in enumerate(terms))
    non_empty = " AND ".join(f"len(a{j}) > 0" for j in range(n))
    cur0 = ", ".join(f"a{j}[1] AS c{j}" for j in range(n))
    end0 = "greatest(" + ", ".join(f"c{j}" for j in range(n)) + ")"
    # lexicographic argmin by (value, clause order == ascending offset)
    jmin_case = ("CASE " + " ".join(
        f"WHEN {' AND '.join(f'c{j} <= c{i}' for i in range(n) if i != j)}"
        f" THEN {j}"
        for j in range(n - 1)) + f" ELSE {n - 1} END")
    # careful: the CASE above must prefer the SMALLEST j on ties —
    # 'c_j <= c_i' for all i does exactly that when scanned j ascending
    nxt_expr = ("least(" + ", ".join(
        f"CASE WHEN jmin = {j} THEN NULL ELSE c{j} END"
        for j in range(n)) + ")")
    clos_expr = ("CASE " + " ".join(
        f"WHEN jmin = {j} THEN a{j}[len(list_filter(a{j}, x -> x <= nxt))]"
        for j in range(n)) + " END")
    jump_expr = ("CASE " + " ".join(
        f"WHEN jmin = {j} THEN len(list_filter(a{j}, x -> x <= nxt)) + 1"
        for j in range(n)) + " END")
    newc = ", ".join(
        f"CASE WHEN jmin = {j} AND jump <= len(a{j}) THEN a{j}[jump] "
        f"ELSE c{j} END AS c{j}" for j in range(n))
    exhausted = ("CASE " + " ".join(
        f"WHEN jmin = {j} THEN jump > len(a{j})" for j in range(n))
        + " END")
    arrs_pass = ", ".join(f"a{j}" for j in range(n))
    w_sum = " + ".join(f"CAST(w{j}.w AS DOUBLE)" for j in range(n))
    w_from = ", ".join(f"(SELECT {_w_expr(t)} AS w) w{j}"
                       for j, t in enumerate(terms))
    return (_PRELUDE + f""",
arrs AS (
  SELECT d.doc_id, {arr_sel}
  FROM (SELECT DISTINCT doc_id FROM tok) d
),
docs0 AS (SELECT * FROM arrs WHERE {non_empty}),
walk AS (
  WITH RECURSIVE w(doc_id, {arrs_pass}, {', '.join(f'c{j}' for j in range(n))},
                   endp, freq, active, step) AS (
    SELECT doc_id, {arrs_pass}, {', '.join(f'c{j}' for j in range(n))},
           {end0} AS endp, CAST(0.0 AS FLOAT) AS freq, TRUE AS active,
           0 AS step
    FROM (SELECT doc_id, {arrs_pass}, {cur0} FROM docs0)
    UNION ALL
    SELECT doc_id, {arrs_pass},
           {newc},
           greatest(endp, CASE WHEN NOT exh THEN newcur ELSE endp END)
             AS endp,
           CASE WHEN ml <= {slop}
                THEN CAST(freq + CAST(CAST(1.0 AS FLOAT)
                          / CAST(1 + ml AS FLOAT) AS FLOAT) AS FLOAT)
                ELSE freq END AS freq,
           NOT exh AS active,
           step + 1 AS step
    FROM (
      SELECT *, endp - clos AS ml, {exhausted} AS exh,
             CASE WHEN jump <= CASE {' '.join(f'WHEN jmin = {j} THEN len(a{j})' for j in range(n))} END
                  THEN CASE {' '.join(f'WHEN jmin = {j} THEN a{j}[jump]' for j in range(n))} END
                  ELSE NULL END AS newcur
      FROM (
        SELECT *, {clos_expr} AS clos, {jump_expr} AS jump
        FROM (
          SELECT *, {nxt_expr} AS nxt
          FROM (SELECT *, {jmin_case} AS jmin FROM w WHERE active)
        )
      )
    )
  )
  SELECT * FROM w
),
ph AS (
  SELECT doc_id, freq FROM (
    SELECT doc_id, freq,
           row_number() OVER (PARTITION BY doc_id ORDER BY step DESC)
             AS rn
    FROM walk) WHERE rn = 1 AND freq > 0
),
phw AS (SELECT CAST({w_sum} AS FLOAT) AS w FROM {w_from}),
phsc AS (
  SELECT p.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(p.freq AS FLOAT) * c.inv)) AS s
  FROM ph p JOIN normcache c ON p.doc_id = c.doc_id CROSS JOIN phw w
)""" + _topk_sql("phsc", k))


def _repeat_mixed_sloppy_sql(ta: str, tb: str, slop: int,
                             k: int = 10) -> str:
    """EXACT advanceRpts twin for the (a, b, a) duplicate shape
    (SloppyPhraseMatcher with repeats — functions/sloppy.py
    lucene_sloppy_repeat_matches): clauses 0 and 2 share term a's
    stream (adjusted by offsets 0 and 2) and form one repeat group;
    because they walk ONE ranked stream, a collision (equal token
    position) is exactly EQUAL INDICES, and the colliding lesser —
    same raw position, higher offset ⇒ smaller adjusted position — is
    ALWAYS clause 2, so the whole collision machinery reduces to "bump
    i2 once when i0 == i2". One recursion step = one PhrasePositions
    advance: pop total order (position, offset=ord), stale ``nxt``,
    running ``end``, emit f32 1/(1+ml) on ``cur > nxt`` or exhaustion.
    Init = advanceRepeatGroups: i2 starts at the SECOND occurrence.
    Weight: idf per clause occurrence (PhraseWeight termStats array:
    2x idf(a) + idf(b))."""
    emit = (f"CASE WHEN ml <= {slop} THEN "
            "CAST(freq + CAST(CAST(1.0 AS FLOAT) / CAST(1 + ml AS FLOAT)"
            " AS FLOAT) AS FLOAT) ELSE freq END")
    return (_PRELUDE + f""",
rarrs AS (
  SELECT d.doc_id,
         (SELECT list(pos ORDER BY pos) FROM tok t
          WHERE t.term = '{ta}' AND t.doc_id = d.doc_id) AS A,
         (SELECT list(pos - 1 ORDER BY pos) FROM tok t
          WHERE t.term = '{tb}' AND t.doc_id = d.doc_id) AS B
  FROM (SELECT DISTINCT doc_id FROM tok) d
),
rdocs0 AS (SELECT * FROM rarrs WHERE len(A) >= 2 AND len(B) >= 1),
rwalk AS (
  WITH RECURSIVE w(doc_id, A, B, i0, i1, i2, endp, ml, j, nxt, freq,
                   active, step) AS (
    SELECT doc_id, A, B, 1, 1, 2, endp,
           endp - CASE jm WHEN 0 THEN c0 WHEN 1 THEN c1 ELSE c2 END,
           jm,
           least(CASE WHEN jm = 0 THEN NULL ELSE c0 END,
                 CASE WHEN jm = 1 THEN NULL ELSE c1 END,
                 CASE WHEN jm = 2 THEN NULL ELSE c2 END),
           CAST(0.0 AS FLOAT), TRUE, 0
    FROM (
      SELECT *, greatest(c0, c1, c2) AS endp,
             CASE WHEN c0 <= c1 AND c0 <= c2 THEN 0
                  WHEN c1 <= c2 THEN 1 ELSE 2 END AS jm
      FROM (SELECT doc_id, A, B, A[1] AS c0, B[1] AS c1,
                   A[2] - 2 AS c2
            FROM rdocs0)
    )
    UNION ALL
    SELECT doc_id, A, B, ni0, ni1, ni2,
           CASE WHEN dead THEN endp ELSE nend END,
           CASE WHEN dead THEN ml
                WHEN past THEN nend
                     - CASE njm WHEN 0 THEN nc0 WHEN 1 THEN nc1
                       ELSE nc2 END
                ELSE least(ml, nend - curj) END,
           CASE WHEN dead OR NOT past THEN j ELSE njm END,
           CASE WHEN dead OR NOT past THEN nxt
                ELSE least(CASE WHEN njm = 0 THEN NULL ELSE nc0 END,
                           CASE WHEN njm = 1 THEN NULL ELSE nc1 END,
                           CASE WHEN njm = 2 THEN NULL ELSE nc2 END)
                END,
           CASE WHEN dead OR past THEN {emit} ELSE freq END,
           NOT dead,
           step + 1
    FROM (
      SELECT *,
             CASE WHEN dead THEN 0
                  WHEN nc0 <= nc1 AND nc0 <= nc2 THEN 0
                  WHEN nc1 <= nc2 THEN 1 ELSE 2 END AS njm,
             CASE WHEN dead THEN FALSE ELSE curj > nxt END AS past
      FROM (
        SELECT *, greatest(endp, nc0, nc1, nc2) AS nend,
               CASE j WHEN 0 THEN nc0 WHEN 1 THEN nc1 ELSE nc2 END
                 AS curj
        FROM (
          SELECT *,
                 CASE WHEN dead THEN 0 ELSE A[ni0] END AS nc0,
                 CASE WHEN dead THEN 0 ELSE B[ni1] END AS nc1,
                 CASE WHEN dead THEN 0 ELSE A[ni2] - 2 END AS nc2
          FROM (
            SELECT *, (i0a > len(A) OR i1a > len(B) OR i2b > len(A))
                      AS dead,
                   i0a AS ni0, i1a AS ni1, i2b AS ni2
            FROM (
              SELECT *, CASE WHEN i0a = i2a THEN i2a + 1 ELSE i2a END
                        AS i2b
              FROM (
                SELECT *,
                       i0 + CASE WHEN j = 0 THEN 1 ELSE 0 END AS i0a,
                       i1 + CASE WHEN j = 1 THEN 1 ELSE 0 END AS i1a,
                       i2 + CASE WHEN j = 2 THEN 1 ELSE 0 END AS i2a
                FROM w WHERE active
              )
            )
          )
        )
      )
    )
  )
  SELECT * FROM w
),
rph AS (
  SELECT doc_id, freq FROM (
    SELECT doc_id, freq,
           row_number() OVER (PARTITION BY doc_id ORDER BY step DESC)
             AS rn
    FROM rwalk) WHERE rn = 1 AND freq > 0
),
rphw AS (SELECT CAST(CAST(wa.w AS DOUBLE) + CAST(wb.w AS DOUBLE)
                     + CAST(wa.w AS DOUBLE) AS FLOAT) AS w
         FROM (SELECT {_w_expr(ta)} AS w) wa,
              (SELECT {_w_expr(tb)} AS w) wb),
rphsc AS (
  SELECT p.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(p.freq AS FLOAT) * c.inv))
           AS s
  FROM rph p JOIN normcache c ON p.doc_id = c.doc_id CROSS JOIN rphw w
)""" + _topk_sql("rphsc", k))


def _mtp_hidden_sloppy_sql(ta: str, tb: str, slop: int,
                           k: int = 10) -> str:
    """EXACT hasMultiTermRpts twin for the hidden-collision shape
    MultiPhrase[(A, B), (B)] with slop (SloppyPhraseMatcher MTP
    machinery — functions/sloppy.py lucene_sloppy_multiphrase_matches):
    clause 0 walks the UNION stream of A and B (UnionPostingsEnum,
    offset 0), clause 1 walks B (offset 1); they form one term-component
    repeat group. A collision is raw-position equality, and the lesser
    — same raw position, higher offset => smaller adjusted position —
    is ALWAYS clause 1; B's positions are strictly increasing, so one
    bump resolves any collision (init AND walk). One recursion step =
    one popped-clause advance + its collision bump: pop total order
    (position, offset), stale ``nxt``, running ``end``, emit f32
    1/(1+ml) on ``cur > nxt`` or exhaustion. Init = the MTP
    advanceRepeatGroups collide loop (one bump; exhaustion -> the doc
    never matches, positioned=false). Weight: idf PER OCCURRENCE
    across slots (MultiPhraseQuery.java:227-237): idf(A) + 2*idf(B)."""
    emit = (f"CASE WHEN ml <= {slop} THEN "
            "CAST(freq + CAST(CAST(1.0 AS FLOAT) / CAST(1 + ml AS FLOAT)"
            " AS FLOAT) AS FLOAT) ELSE freq END")
    return (_PRELUDE + f""",
marrs AS (
  SELECT d.doc_id,
         (SELECT list(pos ORDER BY pos) FROM tok t
          WHERE t.term IN ('{ta}', '{tb}') AND t.doc_id = d.doc_id) AS U,
         (SELECT list(pos - 1 ORDER BY pos) FROM tok t
          WHERE t.term = '{tb}' AND t.doc_id = d.doc_id) AS B
  FROM (SELECT DISTINCT doc_id FROM tok) d
),
mdocs0 AS (SELECT * FROM marrs WHERE len(U) >= 1 AND len(B) >= 1),
minit AS (
  SELECT doc_id, U, B, 1 AS i0,
         CASE WHEN U[1] = B[1] + 1 THEN 2 ELSE 1 END AS i1
  FROM mdocs0
),
minit2 AS (SELECT * FROM minit WHERE i1 <= len(B)),
mwalk AS (
  WITH RECURSIVE w(doc_id, U, B, i0, i1, endp, ml, j, nxt, freq,
                   active, step) AS (
    SELECT doc_id, U, B, i0, i1, endp,
           endp - CASE jm WHEN 0 THEN c0 ELSE c1 END,
           jm,
           CASE jm WHEN 0 THEN c1 ELSE c0 END,
           CAST(0.0 AS FLOAT), TRUE, 0
    FROM (
      SELECT *, greatest(c0, c1) AS endp,
             CASE WHEN c0 <= c1 THEN 0 ELSE 1 END AS jm
      FROM (SELECT doc_id, U, B, i0, i1, U[i0] AS c0, B[i1] AS c1
            FROM minit2)
    )
    UNION ALL
    SELECT doc_id, U, B, ni0, ni1,
           CASE WHEN dead THEN endp ELSE nend END,
           CASE WHEN dead THEN ml
                WHEN past THEN nend
                     - CASE njm WHEN 0 THEN nc0 ELSE nc1 END
                ELSE least(ml, nend - curj) END,
           CASE WHEN dead OR NOT past THEN j ELSE njm END,
           CASE WHEN dead OR NOT past THEN nxt
                ELSE CASE njm WHEN 0 THEN nc1 ELSE nc0 END END,
           CASE WHEN dead OR past THEN {emit} ELSE freq END,
           NOT dead,
           step + 1
    FROM (
      SELECT *,
             CASE WHEN dead THEN 0
                  WHEN nc0 <= nc1 THEN 0 ELSE 1 END AS njm,
             CASE WHEN dead THEN FALSE ELSE curj > nxt END AS past
      FROM (
        SELECT *, greatest(endp, nc0, nc1) AS nend,
               CASE j WHEN 0 THEN nc0 ELSE nc1 END AS curj
        FROM (
          SELECT *,
                 CASE WHEN dead THEN 0 ELSE U[ni0] END AS nc0,
                 CASE WHEN dead THEN 0 ELSE B[ni1] END AS nc1
          FROM (
            SELECT *, (i0a > len(U) OR i1b > len(B)) AS dead,
                   i0a AS ni0, i1b AS ni1
            FROM (
              SELECT *,
                     CASE WHEN i0a <= len(U) AND i1a <= len(B)
                               AND U[i0a] = B[i1a] + 1
                          THEN i1a + 1 ELSE i1a END AS i1b
              FROM (
                SELECT *,
                       i0 + CASE WHEN j = 0 THEN 1 ELSE 0 END AS i0a,
                       i1 + CASE WHEN j = 1 THEN 1 ELSE 0 END AS i1a
                FROM w WHERE active
              )
            )
          )
        )
      )
    )
  )
  SELECT * FROM w
),
mph AS (
  SELECT doc_id, freq FROM (
    SELECT doc_id, freq,
           row_number() OVER (PARTITION BY doc_id ORDER BY step DESC)
             AS rn
    FROM mwalk) WHERE rn = 1 AND freq > 0
),
mphw AS (SELECT CAST(CAST(wa.w AS DOUBLE) + CAST(wb.w AS DOUBLE)
                     + CAST(wb.w AS DOUBLE) AS FLOAT) AS w
         FROM (SELECT {_w_expr(ta)} AS w) wa,
              (SELECT {_w_expr(tb)} AS w) wb),
mphsc AS (
  SELECT p.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(p.freq AS FLOAT) * c.inv))
           AS s
  FROM mph p JOIN normcache c ON p.doc_id = c.doc_id CROSS JOIN mphw w
)""" + _topk_sql("mphsc", k))


def _span_near_sql(terms: tuple[str, ...], slop: int, k: int = 10) -> str:
    """Unordered SpanNear (NearSpansUnordered role) as SQL — the EXACT
    event-walk semantics (functions/nearspans.py): one state per merged
    clause position up to the doc's first clause-final element; each
    state's width = (max over other clauses of their first position
    after the event) + 1 - event, matching when width - n <= slop and
    contributing 1/(1 + width) in event order; idf-sum weight."""
    return (_PRELUDE + "," + _span_windows_cte(terms, slop) + """,
sp AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE) / (1 + ml) ORDER BY l, r)),
          (a, b) -> CAST(CAST(a AS DOUBLE) + b AS FLOAT)) AS freq
       FROM wins GROUP BY 1)""" + _span_score_sql("sp", tuple(terms), k))


def _span_exact_walk_cte(ap_union: str, n: int, slop: int) -> str:
    """Shared body of the exact unordered NearSpans walk over ``n``
    clause position streams (``ap(doc_id, cl, ap)`` rows, DISTINCT
    positions across clauses — the single-term-per-position invariant of
    the analyzed corpus). Emits ``wins(doc_id, l, r, ml)`` with
    l = event position (minStart), r = maxEnd - 1 (so ``BETWEEN l AND
    r`` is span containment), ml = width = maxEnd - minStart (the
    1/(1+width) SpanScorer input), filtered to width - n <= slop:

    * ``cutw``: the walk ends at the first clause-final element —
      events beyond min over clauses of (per-doc clause max) never pop.
    * ``nxe``/``wv``: at the state popping event e of clause j, every
      other clause's current is its first position > e (all earlier
      positions were popped and advanced past), so the RUNNING maxEnd
      is max(e, max over others of next) + 1.
    """
    return f"""
ap AS ({ap_union}),
clm AS (SELECT doc_id, cl, max(ap) AS mx FROM ap GROUP BY 1, 2),
cutw AS (SELECT doc_id, min(mx) AS cut FROM clm
         GROUP BY 1 HAVING count(*) = {n}),
ev AS (SELECT a.doc_id, a.cl, a.ap FROM ap a
       JOIN cutw c ON a.doc_id = c.doc_id AND a.ap <= c.cut),
nxe AS (SELECT e.doc_id, e.ap, e.cl, a.cl AS oc, min(a.ap) AS nxt
        FROM ev e JOIN ap a
          ON a.doc_id = e.doc_id AND a.cl <> e.cl AND a.ap > e.ap
        GROUP BY 1, 2, 3, 4),
wv AS (SELECT doc_id, ap, max(nxt) AS mo FROM nxe
       GROUP BY doc_id, ap, cl HAVING count(*) = {n - 1}),
wins AS (SELECT doc_id, ap AS l, greatest(ap, mo) AS r,
                greatest(ap, mo) + 1 - ap AS ml
         FROM wv
         WHERE greatest(ap, mo) + 1 - ap - {n} <= {slop})"""


def _span_windows_cte_multi(clauses: tuple[tuple[str, ...], ...],
                            slop: int) -> str:
    """Generalization of ``_span_windows_cte`` where each clause matches
    ANY of a set of terms (SpanOr / expanded-multiterm clauses — the
    ComplexPhraseQueryParser shape): clause j's position stream is the
    union of its terms' positions (all width-1 spans, so the exact
    term-clause walk applies unchanged)."""
    n = len(clauses)
    ap_union = "\n       UNION ALL ".join(
        "SELECT doc_id, {j} AS cl, pos AS ap FROM tok WHERE term IN ({ts})"
        .format(j=j, ts=", ".join(f"'{t}'" for t in cl))
        for j, cl in enumerate(clauses))
    return _span_exact_walk_cte(ap_union, n, slop)


def _span_windows_cte(terms: tuple[str, ...], slop: int) -> str:
    """CTE chain producing ``wins(doc_id, l, r, ml)`` — the exact
    unordered-SpanNear emissions (see _span_exact_walk_cte; ml is the
    reference width = maxEnd - minStart) filtered to width - n <= slop.
    Composable: span_not/span_or oracles build on it. Requires DISTINCT
    clause terms (duplicate clauses tie on the heap order, which SQL
    does not replicate)."""
    n = len(terms)
    assert len(set(terms)) == n >= 2, terms
    ap_union = "\n       UNION ALL ".join(
        f"SELECT doc_id, {j} AS cl, pos AS ap "
        f"FROM tok WHERE term = '{t}'" for j, t in enumerate(terms))
    return _span_exact_walk_cte(ap_union, n, slop)


def _unordered_minwin_cte(terms: tuple[str, ...], slop: int) -> str:
    """The DECLARATIVE double-minimal complete windows over the clauses'
    positions, matchLength = (R - L + 1) - n, filtered to ml <= slop —
    the UnorderedIntervalsSource semantics (intervals keep minimal
    windows; only the span-near iterators use the event walk). Used by
    the interval twins."""
    n = len(terms)
    ap_union = "\n       UNION ALL ".join(
        f"SELECT doc_id, {j} AS cl, pos AS ap "
        f"FROM tok WHERE term = '{t}'" for j, t in enumerate(terms))
    return f"""
ap AS ({ap_union}),
rend AS (SELECT DISTINCT doc_id, ap AS r FROM ap),
mj AS (SELECT r.doc_id, r.r, a.cl, max(a.ap) AS mx
       FROM rend r JOIN ap a ON a.doc_id = r.doc_id AND a.ap <= r.r
       GROUP BY 1, 2, 3),
lofr AS (SELECT doc_id, r, min(mx) AS l FROM mj
         GROUP BY 1, 2 HAVING count(*) = {n}),
lcand AS (SELECT DISTINCT doc_id, l FROM lofr),
mn AS (SELECT f.doc_id, f.l, a.cl, min(a.ap) AS mn
       FROM lcand f JOIN ap a ON a.doc_id = f.doc_id AND a.ap >= f.l
       GROUP BY 1, 2, 3),
rofl AS (SELECT doc_id, l, max(mn) AS r2 FROM mn
         GROUP BY 1, 2 HAVING count(*) = {n}),
wins AS (SELECT * FROM (
           SELECT DISTINCT f.doc_id, f.l, f.r,
                  greatest(f.r - f.l + 1 - {n}, 0) AS ml
           FROM lofr f JOIN rofl g
             ON f.doc_id = g.doc_id AND f.l = g.l AND g.r2 = f.r)
         WHERE ml <= {slop})"""


def _span_score_sql(freq_cte: str, weight_terms: tuple[str, ...],
                    k: int = 10) -> str:
    """Score ``freq_cte(doc_id, freq)`` with idf-sum weight over
    ``weight_terms`` and the shared BM25 kernel + top-k."""
    n = len(weight_terms)
    w_sum = " + ".join(f"CAST(w{j}.w AS DOUBLE)" for j in range(n))
    w_from = ", ".join(f"(SELECT {_w_expr(t)} AS w) w{j}"
                       for j, t in enumerate(weight_terms))
    return f""",
spw AS (SELECT CAST({w_sum} AS FLOAT) AS w FROM {w_from}),
spsc AS (
  SELECT p.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(p.freq AS FLOAT) * c.inv)) AS s
  FROM {freq_cte} p JOIN normcache c ON p.doc_id = c.doc_id
  CROSS JOIN spw w
)""" + _topk_sql("spsc", k)


def _span_or_sql(term: str, near_terms: tuple[str, ...], slop: int,
                 k: int = 10) -> str:
    """SpanOr(SpanTerm(term), SpanNear(near_terms, unordered)): the
    merged clause emissions in (start, end) order — term occurrences
    are width-0 spans contributing 1.0, near emissions contribute
    1/(1+width) — f32-accumulated in MERGED order (SpanOrQuery's
    DisiPriorityQueue emission order; a term span [p, p+1) sorts before
    a near span starting at p because its end is smaller); idf-sum
    weight over ALL clause terms (SpanOrQuery extractTermStates)."""
    return (_PRELUDE + "," + _span_windows_cte(near_terms, slop) + f""",
allsp AS (SELECT doc_id, pos AS l, pos AS r, 0 AS ml FROM tok
          WHERE term = '{term}'
          UNION ALL
          SELECT doc_id, l, r, ml FROM wins),
orf AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE) / (1 + ml) ORDER BY l, r)),
          (a, b) -> CAST(CAST(a AS DOUBLE) + b AS FLOAT)) AS freq
        FROM allsp GROUP BY 1)"""
            + _span_score_sql("orf", (term,) + tuple(near_terms), k))


def _span_not_sql(inc_terms: tuple[str, ...], slop: int, excl: str,
                  k: int = 10) -> str:
    """SpanNot(SpanNear(inc_terms, unordered), SpanTerm(excl)): include
    windows [l, r] overlapping no excl position (l <= p <= r) are kept;
    weight from the include side only (SpanNotQuery.java:117)."""
    return (_PRELUDE + "," + _span_windows_cte(inc_terms, slop) + f""",
kept AS (SELECT w.doc_id, w.l, w.r, w.ml FROM wins w
         WHERE NOT EXISTS (SELECT 1 FROM tok e
                           WHERE e.doc_id = w.doc_id AND e.term = '{excl}'
                             AND e.pos BETWEEN w.l AND w.r)),
keptf AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE) / (1 + ml) ORDER BY l, r)),
          (a, b) -> CAST(CAST(a AS DOUBLE) + b AS FLOAT)) AS freq
          FROM kept GROUP BY 1)"""
            + _span_score_sql("keptf", tuple(inc_terms), k))


def _span_containing_sql(big_terms: tuple[str, ...], slop: int,
                         little: str, k: int = 10) -> str:
    """SpanContaining(big = unordered near, little = term): big windows
    [l, r] containing a little position (l <= p <= r) keep their width;
    weight from BOTH sides' terms (SpanContainQuery extractTermStates)."""
    wterms = tuple(dict.fromkeys(tuple(big_terms) + (little,)))
    return (_PRELUDE + "," + _span_windows_cte(big_terms, slop) + f""",
cont AS (SELECT w.doc_id, w.l, w.r, w.ml FROM wins w
         WHERE EXISTS (SELECT 1 FROM tok t
                       WHERE t.doc_id = w.doc_id AND t.term = '{little}'
                         AND t.pos BETWEEN w.l AND w.r)),
contf AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE) / (1 + ml) ORDER BY l, r)),
          (a, b) -> CAST(CAST(a AS DOUBLE) + b AS FLOAT)) AS freq
          FROM cont GROUP BY 1)"""
            + _span_score_sql("contf", wterms, k))


def _span_within_sql(little: str, big_terms: tuple[str, ...], slop: int,
                     k: int = 10) -> str:
    """SpanWithin(little = term, big = unordered near): little positions
    p inside some big window (l <= p <= r); width 0 → freq = count."""
    wterms = tuple(dict.fromkeys((little,) + tuple(big_terms)))
    return (_PRELUDE + "," + _span_windows_cte(big_terms, slop) + f""",
winf AS (SELECT t.doc_id, CAST(count(*) AS DOUBLE) AS freq
         FROM tok t
         WHERE t.term = '{little}'
           AND EXISTS (SELECT 1 FROM wins w
                       WHERE w.doc_id = t.doc_id
                         AND t.pos BETWEEN w.l AND w.r)
         GROUP BY 1)"""
            + _span_score_sql("winf", wterms, k))


def _span_first_sql(term: str, end: int, k: int = 10) -> str:
    """SpanFirst(SpanTerm(term), end): occurrences with pos + 1 <= end
    (SpanFirstQuery.java:38-42), width 0 → freq = count."""
    return (_PRELUDE + f""",
firstf AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS freq
           FROM tok WHERE term = '{term}' AND pos + 1 <= {end}
           GROUP BY 1)"""
            + _span_score_sql("firstf", (term,), k))


def _highlight_sql(t1: str, t2: str, k: int = 5, window: int = 6) -> str:
    """UnifiedHighlighter-role oracle: top-k hits of AND(t1, t2), then the
    best ``window``-token passage per hit — candidates start at every
    query-term position, best by (#distinct terms, #matches, earliest) —
    with matched terms wrapped in <b></b>. Valid because documents.text is
    single-space lowercase tokens, so the passage reconstruction is a
    space-join of the window's tokens."""
    inlist = f"('{t1}', '{t2}')"
    return (_PRELUDE + ", " + _tscore_cte("ta", t1) + ", "
            + _tscore_cte("tb", t2) + f""",
andsc AS (
  SELECT a.doc_id,
         CAST(CAST(a.s AS DOUBLE) + CAST(b.s AS DOUBLE) AS FLOAT) AS s
  FROM ta a JOIN tb b ON a.doc_id = b.doc_id),
hits AS (SELECT doc_id, CAST(rank AS INT) AS rank FROM
           (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC)
                   AS rank FROM andsc)
         WHERE rank <= {k}),
ntok AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
starts AS (SELECT t.doc_id, t.pos AS s
           FROM tok t JOIN hits h ON t.doc_id = h.doc_id
           WHERE t.term IN {inlist}),
cand AS (SELECT st.doc_id, st.s,
                count(DISTINCT t.term) AS dm, count(*) AS tm
         FROM starts st
         JOIN ntok nt ON nt.doc_id = st.doc_id
         JOIN tok t ON t.doc_id = st.doc_id
              AND t.pos >= st.s AND t.pos < least(st.s + {window}, nt.n)
              AND t.term IN {inlist}
         GROUP BY 1, 2),
best AS (SELECT doc_id, s FROM
           (SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                   ORDER BY dm DESC, tm DESC, s ASC) AS rn FROM cand)
         WHERE rn = 1),
snip AS (SELECT b.doc_id,
                string_agg(CASE WHEN t.term IN {inlist}
                                THEN '<b>' || t.term || '</b>'
                                ELSE t.term END, ' ' ORDER BY t.pos)
                AS snippet
         FROM best b
         JOIN ntok nt ON nt.doc_id = b.doc_id
         JOIN tok t ON t.doc_id = b.doc_id
              AND t.pos >= b.s AND t.pos < least(b.s + {window}, nt.n)
         GROUP BY 1)
SELECT h.doc_id, h.rank, coalesce(sn.snippet, '') AS snippet
FROM hits h LEFT JOIN snip sn ON sn.doc_id = h.doc_id""")


def _dismax_sql(t1: str, t2: str, k: int = 10) -> str:
    return (_PRELUDE + ", " + _tscore_cte("ta", t1) + ", "
            + _tscore_cte("tb", t2) + f""",
dmsc AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CAST(greatest(COALESCE(CAST(a.s AS DOUBLE), 0),
                       COALESCE(CAST(b.s AS DOUBLE), 0)) AS FLOAT) AS s
  FROM ta a FULL OUTER JOIN tb b ON a.doc_id = b.doc_id
)""" + _topk_sql("dmsc", k))


# -- shingle CTE shared by the dedup oracles --------------------------------

_SHINGLES = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
shj AS (
  SELECT doc_id,
         unnest(CASE WHEN len(l) >= 3
                THEN list_distinct(list_transform(range(len(l) - 2),
                       i -> array_to_string(l[i+1:i+3], ' ')))
                ELSE [array_to_string(l, ' ')] END) AS shingle
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shj GROUP BY 1)
"""


def _ngram_jaccard_sql(threshold: float) -> str:
    return (_SHINGLES + f""",
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       CAST(floor(CAST(i.inter AS DOUBLE) /
             CAST(sa.sz + sb.sz - i.inter AS DOUBLE) * 10000) AS BIGINT)
         AS jaccard_q4
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.inter AS DOUBLE) /
      CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= {threshold}""")


def _minhash_pairs_prefix(threshold: float, num_hashes: int = 16,
                          bands: int = 4) -> str:
    """Shared CTE chain ending in a ``pairs(id_a, id_b, jac)`` CTE —
    the exact SQL replica of minhash_near_duplicates."""
    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(num_hashes))
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {sig} AS sig FROM sigs".format(
            b=b, sig=" || '|' || ".join(f"h{b * rows + r}" for r in range(rows)))
        for b in range(bands))
    return (_SHINGLES + f""",
sigs AS (
  SELECT doc_id,
         {mins}
  FROM shj GROUP BY 1
),
bands AS (
{band_rows}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cands c
  JOIN shj a ON a.doc_id = c.id_a
  JOIN shj b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.id_a, i.id_b, i.inter,
         CAST(i.inter AS DOUBLE) /
         CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jac
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE CAST(i.inter AS DOUBLE) /
        CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= {threshold}
)""")


def _minhash_sql(threshold: float, num_hashes: int = 16, bands: int = 4) -> str:
    return (_minhash_pairs_prefix(threshold, num_hashes, bands) + """
SELECT id_a, id_b,
       CAST(floor(jac * 10000) AS BIGINT) AS jaccard_q4
FROM pairs""")


def _minhash_cluster_sql(threshold: float) -> str:
    """Connected components of the near-dup pair graph: (node, root)
    with root = component min, via transitive closure (recursive CTE) —
    the declarative oracle twin of the large-star/small-star engine
    path."""
    prefix = _minhash_pairs_prefix(threshold).replace(
        "WITH toks", "WITH RECURSIVE toks", 1)
    return (prefix + """,
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS node, least(a, min(b)) AS root
FROM reach GROUP BY a""")


def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"sum(((hi >> {i}) & 1) * 2 - 1) AS vh{i}, "
        f"sum(((lo >> {i}) & 1) * 2 - 1) AS vl{i}" for i in range(32))
    hi_bits = " + ".join(
        f"CASE WHEN vh{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(32))
    lo_bits = " + ".join(
        f"CASE WHEN vl{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(32))
    return (_SHINGLES + f""",
bits AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS hi,
         CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) AS lo
  FROM shj
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM bits GROUP BY 1
)
SELECT doc_id, CAST({hi_bits} AS BIGINT) AS simhash_hi,
       CAST({lo_bits} AS BIGINT) AS simhash_lo
FROM votes""")


def _simhash_pairs_sql(max_hamming: int = 3) -> str:
    """Exact oracle for the banded SimHash pair search: signatures
    recomputed from md5 in SQL, candidates = pairs agreeing on >= 1 of
    the 4 16-bit chunks (the engine's banding), kept when Hamming <=
    max_hamming — deterministic, so the approximate path is exact."""
    chunk_match = " OR ".join(
        [f"((a.simhash_hi >> {c * 16}) & 65535) = "
         f"((b.simhash_hi >> {c * 16}) & 65535)" for c in range(2)]
        + [f"((a.simhash_lo >> {c * 16}) & 65535) = "
           f"((b.simhash_lo >> {c * 16}) & 65535)" for c in range(2)])
    return f"""
WITH sigs AS ({_simhash_sql()})
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash_hi, b.simhash_hi))
         + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS hamming
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE {chunk_match})
WHERE hamming <= {max_hamming}"""


def _lit_vec(v) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def _sql_dot(vec_expr: str, lit: str, dim: int) -> str:
    return (f"list_sum(list_transform(range({dim}), i -> "
            f"CAST({vec_expr}[i+1] AS DOUBLE) * ({lit})[i+1]))")


def _sql_cos(a: str, b: str, dim: int) -> str:
    def d(x, y):
        return (f"list_sum(list_transform(range({dim}), i -> "
                f"CAST({x}[i+1] AS DOUBLE) * CAST({y}[i+1] AS DOUBLE)))")
    return f"({d(a, b)} / (sqrt({d(a, a)}) * sqrt({d(b, b)})))"


def _lsh_topk_sql(max_query_id: int, k: int, num_planes: int = 4,
                  dim: int = 64) -> str:
    """Exact oracle for the LSH-bucketed ANN: the hyperplanes are
    deterministic (sha256-seeded), so the bucket bits — and therefore the
    candidate set (Hamming <= 1 between corpus and query buckets =
    multiprobe) — are recomputed in SQL; cosine top-k over candidates."""
    from lucene_spark.pipeline.simsearch import _hyperplanes
    planes = _hyperplanes(dim, num_planes)
    bucket = " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', _lit_vec(p), dim)} >= 0 "
        f"THEN {1 << i} ELSE 0 END)" for i, p in enumerate(planes))
    return f"""
WITH bv AS (SELECT vec_id, embedding, ({bucket}) AS bucket
            FROM embeddings),
q AS (SELECT * FROM bv WHERE vec_id < {max_query_id}),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_sql_cos('q.embedding', 'c.embedding', dim)} AS cos
  FROM bv c, q
  WHERE c.vec_id <> q.vec_id
    AND bit_count(xor(c.bucket, q.bucket)) <= 1
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank,
       CAST(floor(cos * 10000) AS BIGINT) AS cos_q4
FROM (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rnk
      FROM pairs)
WHERE rnk <= {k}"""


def _ivf_topk_sql(max_query_id: int, k: int, num_centroids: int = 8,
                  nprobe: int = 3, dim: int = 64) -> str:
    """Exact oracle for the PARTIAL-probe IVF ANN (iters=1): the whole
    pipeline is deterministic — seeds are the ``C`` corpus vectors with
    smallest md5(vec_id), one Lloyd step (assign by cosine argmax, update
    by per-component mean, renormalize), corpus inverted-listed by final
    centroid, queries probe their ``nprobe`` best lists — so SQL can
    replay it step for step and the approximate path checks hash-exactly.
    """
    def normed(expr: str) -> str:
        n = (f"greatest(sqrt(list_sum(list_transform({expr}, "
             f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 1e-12)")
        return f"list_transform({expr}, x -> CAST(x AS DOUBLE) / {n})"

    def dot(a: str, b: str) -> str:
        return (f"list_sum(list_transform(range({dim}), i -> "
                f"({a})[i+1] * ({b})[i+1]))")

    return f"""
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
           AS cid, embedding
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {num_centroids}),
cent0 AS (SELECT cid, {normed('embedding')} AS c FROM seeds),
vn AS (SELECT vec_id, {normed('embedding')} AS v FROM embeddings),
a1 AS (SELECT vec_id, cid FROM (
         SELECT vn.vec_id, c.cid,
                row_number() OVER (PARTITION BY vn.vec_id
                    ORDER BY {dot('vn.v', 'c.c')} DESC, c.cid ASC) AS rn
         FROM vn, cent0 c) WHERE rn = 1),
comps AS (SELECT a.cid, unnest(range(1, {dim} + 1)) AS i,
                 unnest(e.embedding) AS x
          FROM a1 a JOIN embeddings e ON a.vec_id = e.vec_id),
upd AS (SELECT cid, list(m ORDER BY i) AS vec FROM (
          SELECT cid, i, avg(CAST(x AS DOUBLE)) AS m
          FROM comps GROUP BY cid, i) GROUP BY cid),
cent1 AS (SELECT s.cid,
                 {normed('coalesce(u.vec, s.c)')} AS c
          FROM cent0 s LEFT JOIN upd u ON s.cid = u.cid),
a2 AS (SELECT vec_id, cid FROM (
         SELECT vn.vec_id, c.cid,
                row_number() OVER (PARTITION BY vn.vec_id
                    ORDER BY {dot('vn.v', 'c.c')} DESC, c.cid ASC) AS rn
         FROM vn, cent1 c) WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid FROM (
             SELECT vn.vec_id, c.cid,
                    row_number() OVER (PARTITION BY vn.vec_id
                        ORDER BY {dot('vn.v', 'c.c')} DESC, c.cid ASC) AS rn
             FROM vn, cent1 c WHERE vn.vec_id < {max_query_id})
           WHERE rn <= {nprobe}),
pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_sql_cos('qe.embedding', 'ce.embedding', dim)} AS cos
  FROM probes p
  JOIN a2 a ON a.cid = p.cid
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN embeddings ce ON ce.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank,
       CAST(floor(cos * 10000) AS BIGINT) AS cos_q4
FROM (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rnk
      FROM pairs)
WHERE rnk <= {k}"""


def _cosine_sql(max_query_id: int, k: int) -> str:
    return f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {max_query_id}),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(len(q.embedding)),
             i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(len(q.embedding)),
                i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(len(c.embedding)),
                i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))))
         AS cos
  FROM embeddings c, q
  WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank,
       CAST(floor(cos * 10000) AS BIGINT) AS cos_q4
FROM (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rnk
      FROM pairs)
WHERE rnk <= {k}"""


def _cosine_filtered_sql(max_query_id: int, k: int,
                         terms: tuple[str, ...]) -> str:
    """Brute-force cosine top-k restricted to docs containing any of
    ``terms`` (the filtered-KNN oracle: exact over the filtered subset)."""
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tokf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
flt AS (SELECT DISTINCT doc_id FROM tokf WHERE term IN ({inlist})),
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {max_query_id}),
c AS (SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN flt f ON e.vec_id = f.doc_id),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(len(q.embedding)),
             i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(len(q.embedding)),
                i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(len(c.embedding)),
                i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))))
         AS cos
  FROM c, q
  WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank,
       CAST(floor(cos * 10000) AS BIGINT) AS cos_q4
FROM (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rnk
      FROM pairs)
WHERE rnk <= {k}"""


_LANG_HITS = {
    lang: "len(list_filter(string_split(text, ' '), t -> list_contains(["
          + ", ".join(f"'{w}'" for w in words) + "], t)))"
    for lang, words in sorted(textstats.LANG_KEYWORDS.items())
}

_QUALITY_SQL = """
SELECT doc_id,
       CAST(floor((CAST(0.3 AS DOUBLE) * least(CAST(1.0 AS DOUBLE), n / CAST(100.0 AS DOUBLE))
             + CAST(0.4 AS DOUBLE) * (nd / n)
             + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - ns / n)) * 10000) AS BIGINT)
         AS quality_q4
FROM (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
         CAST(len(list_filter(string_split(text, ' '),
              t -> list_contains([{stops}], t))) AS DOUBLE) AS ns
  FROM documents)
""".format(stops=", ".join(f"'{w}'" for w in textstats.QUALITY_STOPWORDS))

_LANG_SQL = f"""
SELECT doc_id,
       CASE WHEN best > 0 AND hde = best THEN 'de'
            WHEN best > 0 AND hen = best THEN 'en'
            WHEN best > 0 AND hes = best THEN 'es'
            WHEN best > 0 AND hfr = best THEN 'fr'
            ELSE 'und' END AS lang_pred
FROM (
  SELECT doc_id, hde, hen, hes, hfr, greatest(hde, hen, hes, hfr) AS best
  FROM (SELECT doc_id,
               {_LANG_HITS['de']} AS hde,
               {_LANG_HITS['en']} AS hen,
               {_LANG_HITS['es']} AS hes,
               {_LANG_HITS['fr']} AS hfr
        FROM documents))
"""

_FEATURES_SQL = """
WITH chars AS (
  SELECT doc_id,
         CAST(ceil(CAST(strlen(text) AS DOUBLE) / 8) * 8 AS BIGINT) AS npad,
         unnest(range(CAST(ceil(CAST(strlen(text) AS DOUBLE) / 8) * 8 AS BIGINT))) AS j
  FROM documents
),
codes AS (
  SELECT c.doc_id, c.j % 8 AS dim, c.npad,
         CASE WHEN c.j < strlen(d.text)
              THEN ascii(substr(d.text, CAST(c.j AS INT) + 1, 1))
              ELSE 0 END AS code
  FROM chars c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT doc_id, CAST(dim AS INT) AS dim,
       CAST(floor(CAST(CAST((CAST(sum(code) AS DOUBLE) / (max(npad) / 8))
                       / CAST(255.0 AS DOUBLE) AS FLOAT) AS DOUBLE) * 1000000)
            AS BIGINT) AS feat_q6
FROM codes GROUP BY doc_id, dim"""


# ---------------------------------------------------------------------------
# queries() — spark-side implementations
# ---------------------------------------------------------------------------

T_COMMON, T_COMMON2, T_THIRD = "data", "query", "stream"
T_RARE = "dup"
T_A, T_B = "slow", "dup"
SYN_A, SYN_B = "batch", "stream"
PH_A, PH_B = "dup", "dup"   # planted near-dup docs contain "... dup dup"


#: FeatureField twin: quantization-exact feature values (integers ≤ 511
#: keep all 8 stored mantissa bits), so decode(encode(v)) == v and the
#: oracle scores the raw value directly.
_FEAT_BODY = """feat AS (
  SELECT doc_id, CAST(1 + (n_chars % 400) AS FLOAT) AS f
  FROM documents WHERE n_chars % 5 <> 0
)"""


def _prefix_scored_sql(prefix: str, term: str, k: int = 10) -> str:
    """CONSTANT_SCORE prefix clause (weight 1f) AND a BM25-scored term."""
    return (_PRELUDE + ", " + _tscore_cte("ta", term) + f""",
pmatch AS (SELECT DISTINCT doc_id FROM tok WHERE term LIKE '{prefix}%'),
psc AS (
  SELECT a.doc_id,
         CAST(CAST(CAST(CAST(1.0 AS DOUBLE) AS FLOAT) AS DOUBLE)
              + CAST(a.s AS DOUBLE) AS FLOAT) AS s
  FROM ta a JOIN pmatch p ON a.doc_id = p.doc_id
)""" + _topk_sql("psc", k))


def _msm_sql(t1: str, t2: str, t3: str, msm: int, k: int = 10) -> str:
    """3-clause SHOULD with minimumNumberShouldMatch."""
    return (_PRELUDE + ", " + _tscore_cte("ta", t1) + ", "
            + _tscore_cte("tb", t2) + ", " + _tscore_cte("tc", t3) + f""",
ab AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(CAST(a.s AS DOUBLE), 0) + COALESCE(CAST(b.s AS DOUBLE), 0) AS s2,
         (a.doc_id IS NOT NULL)::INT + (b.doc_id IS NOT NULL)::INT AS n2
  FROM ta a FULL OUTER JOIN tb b ON a.doc_id = b.doc_id
),
msmsc AS (
  SELECT COALESCE(x.doc_id, c.doc_id) AS doc_id,
         CAST(COALESCE(x.s2, 0) + COALESCE(CAST(c.s AS DOUBLE), 0) AS FLOAT) AS s
  FROM ab x FULL OUTER JOIN tc c ON x.doc_id = c.doc_id
  WHERE COALESCE(x.n2, 0) + (c.doc_id IS NOT NULL)::INT >= {msm}
)""" + _topk_sql("msmsc", k))


def _q_segment_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage metrics from the committed snapshot (the
    north rule's docs/terms/postings counts) — oracled against DuckDB
    recomputing each segment's contents from the raw table."""
    s = _searcher(spark, sf_dir)
    rows = [(st["seg_id"], st["num_docs"], st["num_terms"],
             st["num_postings"], st["sum_doc_len"])
            for st in s.snapshot.segments]
    return spark.createDataFrame(
        rows, "seg_id int, num_docs long, num_terms long, "
              "num_postings long, sum_doc_len long")


def _merged_searcher(spark: SparkSession, sf_dir: str) -> Searcher:
    """Force-merged copy of the index (tiered merge inside the gate)."""
    import shutil
    base = _searcher(spark, sf_dir)
    merged_dir = base.index_dir + "_merged"
    if not os.path.exists(merged_dir):
        tmp = merged_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(base.index_dir, tmp)
        from lucene_spark.operators.merge import force_merge
        force_merge(spark, tmp, max_segments=1)
        os.rename(tmp, merged_dir)
    return Searcher(spark, merged_dir)


def _q_merged_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fmt_topk(_merged_searcher(spark, sf_dir).search(
        Q.Term(T_COMMON), k=10))


def _incremental_searcher(spark: SparkSession, sf_dir: str) -> Searcher:
    """Index built in two append generations (IndexWriter.addIndexes
    shape): first half of the docs, commit, then the second half into
    fresh segment ids — global stats recomputed over the union."""
    key = os.path.abspath(sf_dir)
    tag = hashlib.md5(f"{_INDEX_VERSION}:incr:{key}".encode()).hexdigest()[:10]
    idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_incr_{tag}")
    docs = _docs(spark, sf_dir).select("doc_id",
                                       F.col("text").alias("content"))
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    build_index(spark, docs.where(F.col("doc_id") <= mid), idx,
                num_segments=4, content_col="content", doc_id_col="doc_id",
                build_id=f"{tag}-lo")
    build_index(spark, docs.where(F.col("doc_id") > mid), idx,
                num_segments=4, content_col="content", doc_id_col="doc_id",
                build_id=f"{tag}-hi")
    return Searcher(spark, idx)


def _q_incremental_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fmt_topk(_incremental_searcher(spark, sf_dir).search(
        Q.Term(T_COMMON), k=10))


def _q_covering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoveringQuery (reference sandbox/search/CoveringQuery.java:51):
    per-doc minimumNumberMatch from a LongValuesSource (here the
    deterministic expression 1 + doc_id % 3); score = sum of matching
    sub-query scores."""
    s = _searcher(spark, sf_dir)
    mm = _docs(spark, sf_dir).select(
        "doc_id",
        (F.lit(1) + F.col("doc_id") % 3).cast("long").alias("min_match"))
    cov = s.covering([Q.Term(T_COMMON), Q.Term(T_COMMON2),
                      Q.Term(T_THIRD), Q.Term(T_RARE)], min_match_df=mm)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (cov.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    F.col("matched_count").cast("int")
                     .alias("matched_count"),
                    _q4(F.col("score").cast("double")).alias("score_q4")))


def _covering_sql(terms: tuple[str, ...], k: int = 10) -> str:
    """DuckDB twin of _q_covering: per-clause BM25 scores, count + sum
    per doc (float64 sum, cast float32 — the engine's SHOULD-sum
    convention), per-doc minMatch = greatest(1 + doc_id % 3, 1)."""
    ctes = ", ".join(_tscore_cte(f"cv{j}", t) for j, t in enumerate(terms))
    union = " UNION ALL ".join(
        f"SELECT doc_id, s FROM cv{j}" for j in range(len(terms)))
    return (_PRELUDE + ", " + ctes + f""",
cu AS ({union}),
cagg AS (SELECT doc_id, count(*) AS cnt,
                sum(CAST(s AS DOUBLE)) AS ssum
         FROM cu GROUP BY 1),
cmm AS (SELECT doc_id, greatest(1 + doc_id % 3, 1) AS m FROM documents),
cov AS (SELECT a.doc_id, a.cnt, CAST(a.ssum AS FLOAT) AS s
        FROM cagg a JOIN cmm ON a.doc_id = cmm.doc_id
        WHERE a.cnt >= cmm.m)
SELECT doc_id, CAST(rank AS INT) AS rank,
       CAST(cnt AS INT) AS matched_count,
       CAST(floor(CAST(s AS DOUBLE) * 10000) AS BIGINT) AS score_q4
FROM (SELECT doc_id, cnt, s,
             row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
      FROM cov)
WHERE rank <= {k}""")


def _q_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FunctionScoreQuery analogue: BM25 score combined with a document-
    value expression (reference ``queries/function/FunctionScoreQuery``) —
    the expression runs as a Catalyst column, the engine score feeds it."""
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    raw = (F.col("score").cast("double")
           + F.lit(0.1) * F.log(F.lit(1.0) + F.col("n_chars").cast("double")))
    scored = (s.score_all(Q.Term(T_COMMON)).join(docs, "doc_id")
              .withColumn("raw", raw))
    w = Window.orderBy(F.desc("raw"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    _q4(F.col("raw")).alias("fscore_q4")))



_BATCH_QUERIES = {
    "bq_term": Q.Term(T_COMMON),
    "bq_or": Q.Or((Q.Term(T_A), Q.Term(T_B))),
    "bq_and": Q.And((Q.Term(T_COMMON), Q.Term(T_COMMON2))),
    "bq_rare": Q.Term(T_RARE),
}



def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable Similarity: Classic TF-IDF over the same index."""
    from lucene_spark.functions.similarity import ClassicSimilarity
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir, similarity=ClassicSimilarity())
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


_TFIDF_SQL = _PRELUDE + f""",
clw AS (SELECT CAST(ln((CAST(a.dc AS DOUBLE) + 1) /
                       (d.df + CAST(1.0 AS DOUBLE))) + 1 AS FLOAT) AS w
        FROM dfs d, avgs a WHERE d.term = '{T_COMMON}'),
clsc AS (
  SELECT f.doc_id,
         ((CAST(sqrt(CAST(f.tf AS DOUBLE)) AS FLOAT) * w.w)
              * CAST(1.0 / sqrt(CAST((SELECT max(v) FROM lut WHERE v <= d.dl)
                                     AS DOUBLE)) AS FLOAT)) AS s
  FROM tf f
  JOIN doclen d ON f.doc_id = d.doc_id
  CROSS JOIN clw w
  WHERE f.term = '{T_COMMON}'
)""" + _topk_sql("clsc")


def _q_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole workload in ONE job (single postings scan + shared
    per-segment decode): Searcher.search_many."""
    res = _searcher(spark, sf_dir).search_many(_BATCH_QUERIES, k=10)
    return res.select("query_id", "doc_id",
                      F.col("rank").cast("int").alias("rank"),
                      _q4(F.col("score")).alias("score_q4"))


def _q_search_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """benchmark/quality role (``QualityStats.java:79-130``): P@1/5/10,
    MRR (top-5 rule), recall and AVP of the 4-query batch workload
    against per-query judgment sets (docs containing a designated
    term)."""
    from functools import reduce

    from lucene_spark.operators.quality import quality_stats
    s = _searcher(spark, sf_dir)
    res = (s.search_many(_BATCH_QUERIES, k=10)
           .select("query_id", "doc_id", "rank"))
    jm = {"bq_term": T_COMMON2, "bq_or": T_A,
          "bq_and": T_RARE, "bq_rare": SYN_A}
    parts = [s.matching_docs(Q.Term(t))
             .select(F.lit(q).alias("query_id"), "doc_id")
             for q, t in sorted(jm.items())]
    judgments = reduce(lambda a, b: a.unionByName(b), parts)
    out = quality_stats(res, judgments)
    cols = [F.col("query_id")]
    for c in ("p_at_1", "p_at_5", "p_at_10", "mrr", "recall", "avp"):
        cols.append(F.floor(F.col(c) * 1000000).cast("long")
                    .alias(c + "_q6"))
    return out.select(*cols)


def _q_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    page1 = s.search(Q.Term(T_COMMON), k=10).collect()
    last = page1[-1]
    res = s.search(Q.Term(T_COMMON), k=10,
                   after=(last["score"], last["doc_id"]))
    return _fmt_topk(res)


def _q_total_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _searcher(spark, sf_dir).count(Q.Or((Q.Term(T_RARE), Q.Term(SYN_A))))
    return spark.createDataFrame([(n,)], "hits long")


def _q_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return s.docs_matching_any(s.expand_terms("prefix", "du"))


def _q_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return s.docs_matching_any(s.expand_terms("wildcard", "qu*y"))


def _q_high_freq_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HighFreqTerms -t (``misc/HighFreqTerms.java:43``): top-20 terms by
    total term frequency with doc frequency, ties → term asc."""
    s = _searcher(spark, sf_dir)
    return (s.high_freq_terms(20, by="ttf")
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("ttf").cast("long").alias("ttf")))


def _q_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexpQuery (``search/RegexpQuery.java``): anchored regex against
    the term dictionary, CONSTANT_SCORE match set. Alternation +
    char-class — shapes a wildcard can't express."""
    s = _searcher(spark, sf_dir)
    return s.matching_docs(Q.MultiTerm("regexp", "qu.+y|dat[a-z]"))


def _q_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return s.docs_matching_any(s.expand_terms("fuzzy", ("dta", 1)))


def _q_term_in_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _searcher(spark, sf_dir).docs_matching_any([T_A, T_B])


def _q_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_docs(spark, sf_dir)
            .where(F.col("n_chars").between(100, 300))
            .select("doc_id"))


def _q_sampled_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomSamplingFacetsCollector role (reference
    ``facet/RandomSamplingFacetsCollector.java:37-104``): lang facet
    counts over a deterministic 50% md5 sample of T_COMMON's match set,
    amortized by the exact sampled rate."""
    from lucene_spark.operators.facets import sampled_facet_counts
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    res = sampled_facet_counts(s, Q.Term(T_COMMON), docs, "lang", 0.5)
    return res.select("lang", F.col("sampled_cnt").cast("long")
                      .alias("sampled_cnt"),
                      F.floor(F.col("est_cnt") * 1000000)
                      .cast("long").alias("est_q6"))


def _q_all_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllGroupsCollector role (``grouping/AllGroupsCollector.java``):
    number of distinct lang groups over T_COMMON's match set."""
    from lucene_spark.operators.facets import all_groups_count
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    n = all_groups_count(s, Q.Term(T_COMMON), docs, "lang")
    return spark.createDataFrame([(n,)], "n_groups long")


def _q_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return (s.matching_docs(Q.Term(T_RARE))
             .join(docs, "doc_id")
             .groupBy("lang").agg(F.count("*").alias("cnt")))


def _q_facet_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.operators.facets import facet_path_counts
    s = _searcher(spark, sf_dir)
    dims = _docs(spark, sf_dir).select(
        "doc_id", F.concat_ws("/", "source", "lang").alias("path"))
    return facet_path_counts(s, Q.Term(T_COMMON), dims, "path")


def _q_drill_down_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.operators.facets import drill_down_path
    s = _searcher(spark, sf_dir)
    dims = _docs(spark, sf_dir).select(
        "doc_id", F.concat_ws("/", "source", "lang").alias("path"))
    return drill_down_path(s, Q.Term(T_COMMON), dims, "path", "src6")


def _q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lucene_spark.operators.facets import grouped_top_k
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return (grouped_top_k(s, Q.Term(T_COMMON), docs, "lang", 2)
            .select("lang", "doc_id", "rank",
                    _q4(F.col("score")).alias("score_q4")))


def _q_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistinctValuesCollector role (``grouping/DistinctValuesCollector
    .java``): per-group DISTINCT values of a second (sparse) field over
    the match set, NULL entries kept."""
    from lucene_spark.operators.facets import distinct_values
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.when(F.col("doc_id") % 3 != 0, F.col("source")).alias("flavor"))
    return distinct_values(s, Q.Term(T_RARE), docs, "lang", "flavor")


def _q_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DiversifiedTopDocsCollector role (``misc/search/
    DiversifiedTopDocsCollector.java``): global top-10 with at most 2
    hits per lang key."""
    from lucene_spark.operators.facets import diversified_top_k
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    res = diversified_top_k(s, Q.Term(T_COMMON), docs, "lang",
                            k=10, max_per_key=2)
    return res.select("doc_id", "rank", "lang",
                      _q4(F.col("score")).alias("score_q4"))


def _q_doc_values_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DocValuesStatsCollector role (``misc/search/DocValuesStats
    .java``): count/missing/min/max/sum/mean over the match set of a
    sparse numeric field (every 4th doc has no value). Sums of longs are
    integer-exact in IEEE doubles here, so floor(mean*1e6) is
    deterministic on both engines; variance/stdev are pytest-verified
    against numpy (tests/test_stats_facets.py)."""
    from lucene_spark.operators.stats import doc_values_stats
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 != 0, F.col("n_chars")).alias("nval"))
    res = doc_values_stats(s, Q.Term(T_COMMON), docs, "nval")
    return res.select(
        F.col("count").cast("long").alias("count"),
        F.col("missing").cast("long").alias("missing"),
        F.col("min").cast("long").alias("min"),
        F.col("max").cast("long").alias("max"),
        F.col("sum").cast("long").alias("sum"),
        F.floor(F.col("mean") * 1000000).cast("long").alias("mean_q6"))


def _q_sort_by_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    matched = s.matching_docs(Q.Term(T_RARE)).join(docs, "doc_id")
    w = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (matched.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10)
            .select("doc_id", F.col("n_chars").cast("int").alias("n_chars"),
                    F.col("rank").cast("int").alias("rank")))


_RANGE_BUCKETS = [(0, 150), (100, 300), (300, 1000)]


def _q_range_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return facets.range_facet_counts(s, Q.Term(T_RARE), docs, "n_chars",
                                     _RANGE_BUCKETS)


def _q_drill_sideways(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return facets.drill_sideways(s, Q.Term(T_COMMON), Q.Term(T_RARE),
                                 docs, "lang")


def _q_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return facets.query_join(s, Q.Term(T_RARE), docs, "source",
                             docs, "source").select("doc_id")


def _q_term_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return s.docs_matching_any(
        s.expand_terms("range", ("batch", "data", True, True)))


def _q_term_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = term_stats_from_tokens(_docs(spark, sf_dir), content_col="text",
                                 doc_id_col="doc_id", salt_buckets=8)
    return out.select("term", F.col("df").cast("long").alias("df"),
                      F.col("ttf").cast("long").alias("ttf"))


def _q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return s.term_stats.select("term", F.col("df").cast("long").alias("df"),
                               F.col("ttf").cast("long").alias("ttf"))


def _q_field_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return spark.createDataFrame([(s.doc_count, s.sum_ttf)],
                                 "doc_count long, sum_ttf long")


def _q_doc_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _searcher(spark, sf_dir)
    return s.doc_meta.select("doc_id",
                             F.col("doc_len").cast("int").alias("doc_len"),
                             F.col("norm_byte").cast("int").alias("norm_byte"))


def _q_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _searcher(spark, sf_dir).doc_meta.select("doc_id", "sha256")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicate_groups(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)
            .select("id_a", "id_b", _q4(F.col("jaccard")).alias("jaccard_q4")))


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (dedup.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.8)
            .select("id_a", "id_b", _q4(F.col("jaccard")).alias("jaccard_q4")))


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs -> connected components
    (alternating large-star/small-star, Kiveris et al. SoCC'14) ->
    (node, component-min root). Oracle: recursive-CTE transitive
    closure over the same SQL-replicated pair set."""
    pairs = dedup.minhash_near_duplicates(_docs(spark, sf_dir),
                                          threshold=0.8)
    return dedup.connected_components(pairs)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(_docs(spark, sf_dir))


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs — deterministic (md5 bit votes +
    16-bit-chunk banding), so the SQL oracle replicates it exactly."""
    return (dedup.simhash_near_duplicates(_docs(spark, sf_dir),
                                          max_hamming=3)
            .withColumn("hamming", F.col("hamming").cast("int")))


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (textstats.with_token_counts(_docs(spark, sf_dir))
            .select("doc_id", F.col("n_tokens").cast("int").alias("n_tokens"),
                    F.col("n_distinct").cast("int").alias("n_distinct"),
                    F.col("n_subtokens").cast("int").alias("n_subtokens")))


def _q_fingerprint_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FingerprintFilter (reference ``miscellaneous/FingerprintFilter
    .java``): per-doc clustering fingerprint = sorted de-duplicated
    token set joined by ' ', md5-projected. Pure Catalyst — one
    expression chain, no UDF."""
    res = textstats.with_fingerprint_token(
        _docs(spark, sf_dir), max_output_token_size=65536)
    return res.select("doc_id", F.md5(F.col("fingerprint"))
                      .alias("fp_md5"))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (textstats.with_quality_score(_docs(spark, sf_dir))
            .select("doc_id", _q4(F.col("quality")).alias("quality_q4")))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (textstats.with_lang_id(_docs(spark, sf_dir))
            .select("doc_id", "lang_pred"))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (textstats.with_fingerprints(_docs(spark, sf_dir))
            .select("doc_id", "fp_exact", "fp_bag", "fp_roll"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    res = simsearch.brute_force_topk(emb, emb.where(F.col("vec_id") < 20),
                                     k=5)
    return res.select("query_id", "neighbor_id", "rank",
                      _q4(F.col("cos")).alias("cos_q4"))


def _q_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard HNSW ANN (Lucene's per-segment HNSW graphs,
    util/hnsw/HnswGraphBuilder.java:58 / HnswGraphSearcher.java:33):
    graph beam search gathers candidates per shard; candidates are
    rescored with the shared Catalyst cosine and merged by one global
    top-k. With ef ≥ shard size the beam is an exhaustive component walk
    — exact at this scale, so the oracle is brute-force cosine; recall
    at production ef is differential-tested (tests/test_hnsw.py)."""
    from lucene_spark.pipeline.hnsw import build_hnsw, hnsw_topk
    emb = _emb(spark, sf_dir)
    graph = build_hnsw(emb, num_shards=4, M=16, ef_construction=100)
    res = hnsw_topk(graph, emb.where(F.col("vec_id") < 20), k=5,
                    ef=400, M=16)
    return res.select("query_id", "neighbor_id", "rank",
                      _q4(F.col("cos")).alias("cos_q4"))


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    res = simsearch.lsh_bucketed_topk(emb, emb.where(F.col("vec_id") < 20),
                                      k=5)
    return res.select("query_id", "neighbor_id", "rank",
                      _q4(F.col("cos")).alias("cos_q4"))


_DELETED: dict[str, str] = {}


def _searcher_deleted(spark: SparkSession, sf_dir: str) -> Searcher:
    """Copy of the index with delete_by_term('slow') applied (liveDocs:
    tombstones mask results, stats stay stale until merge)."""
    import shutil

    from lucene_spark.operators.delete import delete_by_term
    key = os.path.abspath(sf_dir)
    if key not in _DELETED:
        base = _searcher(spark, sf_dir)
        tag = hashlib.md5(f"{_INDEX_VERSION}-del:{key}".encode()) \
            .hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(), f"lucene_spark_del_{tag}")
        if not os.path.isdir(idx):
            shutil.copytree(base.index_dir, idx)
            delete_by_term(spark, idx, "slow")
        _DELETED[key] = idx
    return Searcher(spark, _DELETED[key])


def _q_deleted_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search after delete_by_term('slow'): deleted docs masked, surviving
    scores unchanged (stale global stats — reference NRT-delete
    semantics, BufferedUpdates → .liv)."""
    s = _searcher_deleted(spark, sf_dir)
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


_SOFT_DELETED: dict[str, str] = {}


def _q_soft_deleted_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search after soft_delete_by_term('slow'): soft tombstones mask
    results exactly like hard ones (PendingSoftDeletes folds the
    soft-deletes DV into liveDocs); they differ only at merge time
    (SoftDeletesRetentionMergePolicy — pytest-gated,
    tests/test_soft_deletes.py). Same oracle as bm25_deleted_top10 BY
    DESIGN: reader-visible state is identical."""
    import shutil

    from lucene_spark.operators.delete import soft_delete_by_term
    key = os.path.abspath(sf_dir)
    if key not in _SOFT_DELETED:
        base = _searcher(spark, sf_dir)
        tag = hashlib.md5(f"{_INDEX_VERSION}-softdel:{key}".encode()) \
            .hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(),
                           f"lucene_spark_softdel_{tag}")
        if not os.path.isdir(idx):
            shutil.copytree(base.index_dir, idx)
            soft_delete_by_term(spark, idx, "slow")
        _SOFT_DELETED[key] = idx
    s = Searcher(spark, _SOFT_DELETED[key])
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


def _q_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanNearQuery (unordered, slop=3) — the exact NearSpansUnordered
    event walk shared with the oracle; twin = the exact walk in SQL
    (_span_near_sql)."""
    s = _searcher(spark, sf_dir)
    q = Q.SpanNear((T_COMMON, T_COMMON2), slop=3, in_order=False)
    return _fmt_topk(s.search(q, k=10))


def _q_span_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanOrQuery: union of a term span and an unordered SpanNear —
    every emitted span keeps its own width; idf-sum over all clause
    terms. Hash-exact SQL oracle."""
    s = _searcher(spark, sf_dir)
    q = Q.SpanOr((Q.Term(T_COMMON),
                  Q.SpanNear((T_A, T_B), slop=3, in_order=False)))
    return _fmt_topk(s.search(q, k=10))


def _q_span_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanNotQuery: unordered-near include spans minus any overlapping
    exclude-term occurrence; weight from the include side only."""
    s = _searcher(spark, sf_dir)
    q = Q.SpanNot(Q.SpanNear((T_COMMON, T_COMMON2), slop=3,
                             in_order=False),
                  Q.Term(T_THIRD))
    return _fmt_topk(s.search(q, k=10))


def _q_span_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanFirstQuery: term occurrences ending at position <= 20."""
    s = _searcher(spark, sf_dir)
    return _fmt_topk(s.search(Q.SpanFirst(Q.Term(T_COMMON), 20), k=10))


def _q_span_containing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanContainingQuery: unordered-near big spans that contain an
    occurrence of the little term; big spans keep their own width."""
    s = _searcher(spark, sf_dir)
    q = Q.SpanContaining(Q.SpanNear((T_COMMON, T_COMMON2), slop=4,
                                    in_order=False), Q.Term(T_THIRD))
    return _fmt_topk(s.search(q, k=10))


def _q_span_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanWithinQuery: little-term occurrences inside an unordered-near
    big span (width 0 → freq = count)."""
    s = _searcher(spark, sf_dir)
    q = Q.SpanWithin(Q.Term(T_THIRD),
                     Q.SpanNear((T_COMMON, T_COMMON2), slop=4,
                                in_order=False))
    return _fmt_topk(s.search(q, k=10))


def _q_complex_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ComplexPhraseQueryParser (``queryparser/complexPhrase/
    ComplexPhraseQueryParser.java:47``): alternation group inside a
    phrase, unordered, slop 2 — compiled to
    SpanNear((SpanOr(slow, dup), part), 2, unordered)."""
    from lucene_spark.plans.complexphrase import parse_complex_phrase
    q = parse_complex_phrase(f'"({T_A} {T_B}) part"~2', in_order=False)
    return _fmt_topk(_searcher(spark, sf_dir).search(q, k=10))


def _q_surround(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surround query language (queryparser/surround role):
    '3N(a, b)' parses to unordered SpanNear slop 2
    (DistanceQuery.java:97 slop = n - 1) — shares the span oracle."""
    from lucene_spark.plans.surround import parse_surround
    s = _searcher(spark, sf_dir)
    q = parse_surround(f"3N({T_COMMON}, {T_THIRD})")
    return _fmt_topk(s.search(q, k=10))


def _q_simple_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimpleQueryParser (queryparser/simple role): '-rare common'
    parses to Not(Term(common), Term(rare)) — MUST_NOT at the top
    boolean level; shares the boolean NOT oracle."""
    from lucene_spark.plans.simple import parse_simple
    s = _searcher(spark, sf_dir)
    q = parse_simple(f"-{T_RARE} {T_COMMON}")
    return _fmt_topk(s.search(q, k=10))


def _q_flexible_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardQueryParser (flexible) subset: '+data query' parses to
    ReqOpt(Term(data), Term(query)) — the BooleanQuery MUST+SHOULD mix
    (ReqOptSumScorer: match set = MUST's, SHOULD's score added where
    both match). Reference queryparser/flexible/standard/
    StandardQueryParser.java:115, search/ReqOptSumScorer.java."""
    from lucene_spark.plans.flexible import parse_standard
    s = _searcher(spark, sf_dir)
    q = parse_standard(f"+{T_COMMON} {T_COMMON2}")
    return _fmt_topk(s.search(q, k=10))


def _q_points_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PointsConfig numeric ranges in the flexible parser (reference
    queryparser/flexible/standard/config/PointsConfig.java +
    PointRangeQueryNodeProcessor/PointRangeQueryNodeBuilder):
    'data AND n_chars:[100 TO 300}' parses the bounds numerically
    (exclusive upper → 299 via the builder's -1), and the PointRange
    clause executes as a pushed docvalues Between scan semi-joined
    against the term scores, adding its constant 1.0 (ConjunctionScorer
    double sum, one float32 cast). Runs over the docvalues index, so
    the committed updateNumericDocValue overlay (dup docs → 5000)
    resolves INTO the range predicate."""
    from lucene_spark.plans.flexible import parse_standard
    s = _searcher_dv(spark, sf_dir)
    q = parse_standard(f"{T_COMMON} AND n_chars:[100 TO 300}}",
                       points_config={"n_chars": "long"})
    return _fmt_topk(s.search(q, k=10))


def _q_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoreParser XML syntax (queryparser/xml/CoreParser.java:40): a
    BooleanQuery element with must/should/mustNot clauses parses onto
    Not(ReqOpt(must, should), mustNot)."""
    from lucene_spark.plans.xmlparser import parse_xml
    s = _searcher(spark, sf_dir)
    q = parse_xml(f"""<BooleanQuery>
      <Clause occurs="must"><TermQuery>{T_COMMON}</TermQuery></Clause>
      <Clause occurs="should"><TermQuery>{T_COMMON2}</TermQuery></Clause>
      <Clause occurs="mustNot"><TermQuery>{T_RARE}</TermQuery></Clause>
    </BooleanQuery>""")
    return _fmt_topk(s.search(q, k=10))


def _q_fuzzy_blended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzyQuery default rewrite (TopTermsBlendedFreqScoringRewrite):
    blended df=max stats, per-term 1-ed/minlen float32 boosts, SHOULD
    sum — bit-exact oracle."""
    s = _searcher(spark, sf_dir)
    q = Q.MultiTerm("fuzzy", "scon", edits=2, scored=True)
    return _fmt_topk(s.search(q, k=10))


def _q_dfr_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFR I(n)L2 similarity term query — fourth Similarity family,
    bit-exact oracle (double math, single float32 cast)."""
    from lucene_spark.functions.similarity import DFRInL2Similarity
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir, similarity=DFRInL2Similarity())
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


def _q_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse search (monitor/percolator role): registered query set
    matched against the document stream; emits (doc_id, query_id)."""
    from lucene_spark.streaming.monitor import Monitor
    mon = Monitor({"q_term": T_COMMON,
                   "q_and": f"{T_COMMON} AND {T_COMMON2}",
                   "q_phrase": f'"{PH_A} {PH_B}"',
                   "q_prefix": "str*",
                   "q_fuzzy": Q.MultiTerm("fuzzy", "quary", edits=1),
                   "q_spannear": Q.SpanNear((T_COMMON, T_THIRD), slop=2,
                                            in_order=False)})
    return mon.match_batch(_docs(spark, sf_dir))


def _q_lmd_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM Dirichlet similarity (μ=2000) term query — third Similarity
    implementation, oracled bit-exactly (double math, one float32 cast,
    clamp at 0; reference LMDirichletSimilarity.java:70-77)."""
    from lucene_spark.functions.similarity import LMDirichletSimilarity
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir,
                 similarity=LMDirichletSimilarity())
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


def _q_suggest_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnalyzingSuggester role: weight-ordered prefix completion from the
    term dictionary (weight = df)."""
    return suggest.suggest_prefix(_searcher(spark, sf_dir), "s", k=10)


def _q_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DirectSpellChecker role: corrections for the misspelling 'sparc'
    within 2 edits, ranked (distance, df desc, term)."""
    return suggest.spell_suggest(_searcher(spark, sf_dir), "sparc", k=5,
                                 max_edits=2)


def _q_mlt_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoreLikeThis over documents.text: seed doc 0, top-5 interesting
    terms (tf>=2, df>=5, classic idf), OR-query scored by BM25."""
    s = _searcher(spark, sf_dir)
    res = mlt.more_like_this(s, _docs(spark, sf_dir), doc_id=0, k=10,
                             max_query_terms=5, min_term_freq=2,
                             min_doc_freq=5)
    return _fmt_topk(res)


def _q_fuzzy_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzySuggester (``suggest/.../analyzing/FuzzySuggester.java:50``,
    defaults maxEdits=1/nonFuzzyPrefix=1/minFuzzyLength=3): typo-tolerant
    prefix completion of 'quary', weight = df."""
    from lucene_spark.operators.suggest import fuzzy_suggest
    return fuzzy_suggest(_searcher(spark, sf_dir), "scal", k=10)


def _q_free_text_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FreeTextSuggester stupid-backoff next-word model
    (``suggest/.../analyzing/FreeTextSuggester.java:91-124``) over the
    bigram-shingled index."""
    from lucene_spark.operators.suggest import free_text_suggest
    res = free_text_suggest(_searcher_shingle(spark, sf_dir),
                            T_COMMON, k=10)
    return res.select("term",
                      F.floor(F.col("score") * 1e12)
                      .cast("long").alias("score_q12"))


def _q_infix_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnalyzingInfixSuggester role: dictionary terms containing 'ar'
    anywhere, prefix-first then df-weighted."""
    from lucene_spark.operators.suggest import infix_suggest
    return infix_suggest(_searcher(spark, sf_dir), "ar", k=10)


def _q_term_automaton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TermAutomatonQuery (``sandbox/search/TermAutomatonQuery.java`` +
    ``TermAutomatonScorer.java:221-338``): NFA (slow|dup) · ANY · data —
    freq counts accepting path events; idf-sum weight."""
    q = Q.TermAutomaton(((0, 1, T_A), (0, 1, T_B), (1, 2, None),
                         (2, 3, T_COMMON)), (3,))
    return _fmt_topk(_searcher(spark, sf_dir).search(q, k=10))


def _q_word_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordBreakSpellChecker.suggestWordBreaks
    (``suggest/.../spell/WordBreakSpellChecker.java:71,238-300``):
    split 'partfilter' at every point whose halves are both dictionary
    terms, summed-df ranking."""
    from lucene_spark.operators.suggest import word_break_suggest
    return word_break_suggest(_searcher(spark, sf_dir), "partfilter")


def _q_sweetspot_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SweetSpotSimilarity term query (``misc/SweetSpotSimilarity
    .java:103-141``): length-norm plateau [40, 80] (steepness 0.5) +
    baseline tf (base 1.5, min 3)."""
    from lucene_spark.functions.similarity import SweetSpotSimilarity
    base = _searcher(spark, sf_dir)
    sim = SweetSpotSimilarity(ln_min=40, ln_max=80, ln_steep=0.5,
                              tf_base=1.5, tf_min=3.0)
    s = Searcher(spark, base.index_dir, similarity=sim)
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


def _q_dfi_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFI (divergence from independence, standardized chi measure)
    term query — reference ``similarities/DFISimilarity.java:58-69`` +
    ``IndependenceStandardized``; non-monotonic → exhaustive scoring."""
    from lucene_spark.functions.similarity import DFISimilarity
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir, similarity=DFISimilarity())
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


def _q_ib_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IB similarity, LL distribution · DF lambda · H2 normalization
    (reference ``similarities/IBSimilarity.java`` + ``DistributionLL``/
    ``LambdaDF``/``NormalizationH2``): −ln(λ/(tfn+λ)) with float32 λ,
    tfn = tf·log2(1 + avgdl/dl); double math, one float32 cast."""
    from lucene_spark.functions.similarity import IBSimilarity
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir,
                 similarity=IBSimilarity("ll", "df", "h2"))
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


def _q_axiomatic_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axiomatic F2LOG (reference ``similarities/AxiomaticF2LOG.java``,
    s=0.25): tf/(tf + s + s·dl/avgdl) · ln((N+1)/df)."""
    from lucene_spark.functions.similarity import AxiomaticSimilarity
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir,
                 similarity=AxiomaticSimilarity("f2log"))
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


def _q_indri_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IndriDirichlet (reference ``similarities/IndriDirichletSimilarity
    .java:44-49``, μ=2000, p = ttf/sumTtf un-smoothed): ln((tf+μp)/(dl+μ))
    — negative log-probability scores, exhaustive scoring path."""
    from lucene_spark.functions.similarity import IndriDirichletSimilarity
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir,
                 similarity=IndriDirichletSimilarity())
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


def _q_multi_sim_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiSimilarity (reference ``similarities/MultiSimilarity
    .java:58-66``): float32 running sum of BM25 + Classic sub-scores."""
    from lucene_spark.functions.similarity import (BM25Similarity,
                                                   ClassicSimilarity,
                                                   MultiSimilarity)
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir, similarity=MultiSimilarity(
        [BM25Similarity(), ClassicSimilarity()]))
    return _fmt_topk(s.search(Q.Term(T_COMMON), k=10))


def _q_dv_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DocValuesNumbersQuery (reference ``sandbox/search/
    DocValuesNumbersQuery.java:47-100``): docs whose n_chars docvalue is
    in a fixed set — a pushed In() scan."""
    s = _searcher_dv(spark, sf_dir)
    return s.docvalues_in_set("n_chars",
                           [63, 132, 157, 207, 246, 328, 359, 5000]) \
            .select("doc_id", F.col("value").cast("long").alias("value"))


def _q_dv_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DocValuesTermsQuery (reference ``sandbox/search/
    DocValuesTermsQuery.java:62-105``): docs whose lang sorted docvalue
    is in a fixed string set — a pushed In() scan of doc_meta."""
    s = _searcher_dv(spark, sf_dir)
    return s.docvalues_terms_in_set("lang", ["fr", "zh"])


def _q_fuzzy_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FuzzyLikeThisQuery (reference ``sandbox/queries/
    FuzzyLikeThisQuery.java:118-255``): 'quary strem' fuzzified at 1 edit
    / prefix 1 — variants rescored boost²·ClassicSim.idf (avg-df fallback
    for the absent sources), global top queue, BM25 scoring under
    artificial df=1 stats."""
    q = Q.FuzzyLikeThis("quary strem", max_edits=1, prefix_len=1)
    return _fmt_topk(_searcher(spark, sf_dir).search(q, k=10))


def _q_indri_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IndriAndQuery (reference ``search/IndriAndQuery.java`` +
    ``IndriAndScorer.java:15-41``): union match set with smoothing
    scores for absent clauses, boost-weighted mean, IndriDirichlet
    similarity."""
    from lucene_spark.functions.similarity import IndriDirichletSimilarity
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir,
                 similarity=IndriDirichletSimilarity())
    return _fmt_topk(s.search(Q.IndriAnd((T_COMMON, T_RARE)), k=10))


def _q_multi_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiRangeQuery (reference ``sandbox/search/MultiRangeQuery
    .java``): union of point ranges over n_chars, one pushed
    OR-of-ranges scan."""
    from lucene_spark.operators.rangefield import multi_range_query
    return multi_range_query(_docs(spark, sf_dir),
                             [(50, 80), (75, 120), (400, 450)], "n_chars")


def _q_blended_infix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlendedInfixSuggester (reference ``suggest/.../analyzing/
    BlendedInfixSuggester.java:60-268``): documents as suggestions
    (weight = n_chars), key '{T_COMMON}' as the prefix token,
    POSITION_LINEAR blending with the reference's weight quirks."""
    from lucene_spark.operators.suggest import blended_infix_suggest
    docs = _docs(spark, sf_dir).select(
        "text", F.col("n_chars").alias("weight"))
    return blended_infix_suggest(docs, T_COMMON, k=10, blender="linear")


def _q_spell_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpellChecker.suggestSimilar with the pluggable StringDistance SPI
    (reference ``spell/SpellChecker.java:63-76`` + ``spell/
    LevenshteinDistance.java``): similarity-ranked corrections for
    'sparc' (score desc, df desc, term) — the scored twin of the
    distance-ranked ``spell_suggest`` entry."""
    from lucene_spark.operators.suggest import spell_suggest_scored
    res = spell_suggest_scored(_searcher(spark, sf_dir), "sparc", k=5,
                               distance="levenshtein")
    return res.select("term",
                      F.floor(F.col("score").cast("double") * 1000000)
                      .cast("long").alias("score_q6"),
                      "df")


def _q_range_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RangeField relations (reference ``document/RangeFieldQuery.java``
    QueryType; LongRange factories at ``document/LongRange.java:140-186``):
    each doc carries [n_chars, n_chars + doc_id%50]; one row per
    (relation, matching doc) against the query range [150, 300]."""
    from functools import reduce

    from lucene_spark.operators.rangefield import (RELATIONS,
                                                   range_field_query)
    ranges = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").alias("rmin"),
        (F.col("n_chars") + F.col("doc_id") % 50).alias("rmax"))
    parts = [range_field_query(ranges, rel, [(150, 300)])
             .withColumn("relation", F.lit(rel)) for rel in RELATIONS]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _q_boolean_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BooleanSimilarity term query (``similarities/BooleanSimilarity
    .java:25``): score = query boost, tf/norms ignored."""
    from lucene_spark.functions.similarity import BooleanSimilarity
    base = _searcher(spark, sf_dir)
    s = Searcher(spark, base.index_dir, similarity=BooleanSimilarity())
    return _fmt_topk(s.search(Q.Term(T_COMMON, boost=1.5), k=10))


def _q_span_not_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpanNotQuery with pre/post exclusion windows (``queries/spans/
    SpanNotQuery.java`` 4-arg ctor): unordered near windows surviving
    no T_RARE within 2 tokens either side."""
    q = Q.SpanNot(Q.SpanNear((T_COMMON, T_THIRD), slop=2,
                             in_order=False),
                  Q.Term(T_RARE), pre=2, post=2)
    return _fmt_topk(_searcher(spark, sf_dir).search(q, k=10))


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (pipeline/repetition.py): dup/
    top 3-gram occurrence fractions per doc, q6-quantized."""
    from lucene_spark.pipeline.repetition import repetition_stats
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    res = repetition_stats(docs, n=3)
    return res.select(
        "doc_id",
        F.floor(F.col("dup_3gram_frac") * 1000000).cast("long")
        .alias("dup_q6"),
        F.floor(F.col("top_3gram_frac") * 1000000).cast("long")
        .alias("top_q6"))


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing (pipeline/mix.py): equal-token lang
    recipe, md5-cut selection; returns the kept doc set with its lang."""
    from lucene_spark.pipeline.mix import sample_to_mixture
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    w = {l: 0.2 for l in ("de", "en", "es", "fr", "zh")}
    return (sample_to_mixture(docs, w, domain_col="lang")
            .select("doc_id", "lang"))


def _q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing (pipeline/shard.py): exact global token
    offsets in doc_id order via the two-pass distributed cumsum, shard
    = offset // 5000."""
    from lucene_spark.pipeline.shard import assign_shards
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return (assign_shards(docs, 5000)
            .select("doc_id",
                    F.col("token_offset").cast("long")
                    .alias("token_offset"),
                    F.col("shard_id").cast("long").alias("shard_id")))


def _q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (training-pipeline op): corpus docs
    sharing >= 1 distinct 8-gram shingle with the 'eval set' (docs
    0-19); eval docs flag themselves (hits = their own shingle count),
    which is the point — verbatim leakage is caught."""
    from lucene_spark.pipeline.contamination import contamination_flags
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20)
    return (contamination_flags(docs, bench, n=8)
            .select("doc_id", F.col("hits").cast("long").alias("hits")))


def _q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimpleNaiveBayesClassifier batch (reference
    ``classification/SimpleNaiveBayesClassifier.java:139-286``): classify
    docs 0-19 by their own text against lang labels over the whole
    corpus; add-1-smoothed log prior + log likelihood, argmax per input
    (ties → class asc). Whitespace tokenize (pre-normalized corpus) —
    pure Catalyst except the postings decode."""
    from lucene_spark.operators.classify import (assign_class,
                                                 naive_bayes_classify)
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    inputs = (docs.where(F.col("doc_id") < 20)
              .select(F.col("doc_id").alias("input_id"), "text"))
    labels = docs.select("doc_id", F.col("lang").alias("cls"))
    scores = naive_bayes_classify(s, inputs, labels,
                                  tokenize="whitespace")
    return assign_class(scores).select(
        "input_id", "cls",
        F.floor(F.col("score") * 100).cast("long").alias("score_q2"))


def _q_bm25nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25NBClassifier batch (reference
    ``classification/BM25NBClassifier.java:120-230``): classify docs 0-19
    by their own text against lang labels; per class, ln(top-1 BM25 of
    the class term) + Σ_w ln(top-1 of MUST(class) SHOULD(w)), softmax-
    normalized. The class field is the keyword-indexed label (dl = 1),
    so the per-(word, class) probes fold into one distributed max over
    the batch vocabulary's postings."""
    from lucene_spark.operators.classify import (assign_class,
                                                 bm25nb_classify)
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    inputs = (docs.where(F.col("doc_id") < 20)
              .select(F.col("doc_id").alias("input_id"), "text"))
    labels = docs.select("doc_id", F.col("lang").alias("cls"))
    scores = bm25nb_classify(s, inputs, labels, tokenize="whitespace")
    return assign_class(scores).select(
        "input_id", "cls",
        F.floor(F.col("score") * 1000).cast("long").alias("score_q3"))


def _q_nb_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimpleNaiveBayesDocumentClassifier (reference
    ``classification/document/SimpleNaiveBayesDocumentClassifier.java:
    106-214``): classify docs 0-9 as two-field documents (title = first
    4 tokens ×2 boost, body = rest) — per-field stats, token-count-
    normalized likelihood, field boosts, softmax."""
    from lucene_spark.operators.classify import (
        assign_class, naive_bayes_classify_document)
    s_title, s_body = _searchers_combined(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    inputs = (docs.where(F.col("doc_id") < 10)
              .select(F.col("doc_id").alias("input_id"),
                      F.array_join(F.slice(toks, 1, _CFQ_TITLE_TOKENS),
                                   " ").alias("title_text"),
                      F.array_join(F.slice(toks, _CFQ_TITLE_TOKENS + 1,
                                           1 << 20),
                                   " ").alias("body_text")))
    labels = docs.select("doc_id", F.col("lang").alias("cls"))
    scores = naive_bayes_classify_document(
        [(s_title, "title_text", _CFQ_WEIGHTS[0]),
         (s_body, "body_text", _CFQ_WEIGHTS[1])],
        inputs, labels, tokenize="whitespace")
    return assign_class(scores).select(
        "input_id", "cls",
        F.floor(F.col("score") * 1000).cast("long").alias("score_q3"))


def _q_knn_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNearestNeighborDocumentClassifier (reference
    ``classification/document/KNearestNeighborDocumentClassifier.java:
    91-141``): per-field boosted MLT sub-queries double-summed, class
    vote over the top-10 neighbors."""
    from lucene_spark.operators.classify import knn_classify_document
    s_title, s_body = _searchers_combined(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    labels = docs.select("doc_id", F.col("lang").alias("cls"))
    res = knn_classify_document(
        [(s_title, f"{T_COMMON} {T_COMMON} {T_COMMON2} {T_COMMON2}",
          _CFQ_WEIGHTS[0]),
         (s_body, f"{T_COMMON2} {T_COMMON2} {T_THIRD} {T_THIRD}",
          _CFQ_WEIGHTS[1])],
        labels, k=10, min_term_freq=2, min_doc_freq=1)
    return res.select(
        "cls", F.floor(F.col("score") * 1000000).cast("long")
        .alias("score_q6"), "cnt")


def _q_payloads_for_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PayloadSpanUtil.getPayloadsForQuery (reference
    ``sandbox/.../payloads/PayloadSpanUtil.java:44-140``): payloads of
    every token occurrence inside matching spans of
    OR(term, exact-phrase) over the payload-annotated index — boolean
    clauses collect independently (duplicates preserved)."""
    s = _searcher_payload(spark, sf_dir)
    q = Q.Or((Q.Term(T_COMMON2), Q.Phrase((T_COMMON, T_COMMON2))))
    return s.payloads_for_query(q).select(
        "doc_id", "term", F.col("pos").cast("int").alias("pos"),
        "payload")


def _q_confusion_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ConfusionMatrixGenerator over the NB classifier (reference
    ``classification/utils/ConfusionMatrixGenerator.java:62-300``):
    classify docs 0-19, cross their predicted class with the true lang
    label, and compute the reference's accuracy / macro precision /
    macro recall / F1 from the linearized matrix (incl. its absent-cell
    true-negative counting)."""
    from lucene_spark.operators.classify import (assign_class,
                                                 confusion_matrix,
                                                 confusion_metrics,
                                                 naive_bayes_classify)
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    inputs = (docs.where(F.col("doc_id") < 20)
              .select(F.col("doc_id").alias("input_id"), "text"))
    labels = docs.select("doc_id", F.col("lang").alias("cls"))
    scores = naive_bayes_classify(s, inputs, labels, tokenize="whitespace")
    pred = assign_class(scores).select(
        "input_id", F.col("cls").alias("predicted"))
    act = (docs.where(F.col("doc_id") < 20)
           .select(F.col("doc_id").alias("input_id"),
                   F.col("lang").alias("actual")))
    met = confusion_metrics(confusion_matrix(act.join(pred, "input_id")))
    q6 = lambda c, n: F.floor(F.col(c) * 1000000).cast("long").alias(n)  # noqa: E731
    return met.select(q6("accuracy", "accuracy_q6"),
                      q6("precision", "precision_q6"),
                      q6("recall", "recall_q6"), q6("f1", "f1_q6"),
                      "n_docs")


def _q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DatasetSplitter.split (reference
    ``classification/utils/DatasetSplitter.java:90-165``): stratified
    train/test/cv assignment over the lang label, per-doc for the first
    400 docs — pins the global alternating counter, the per-class
    float-compared quotas, and the first-doc class ordering."""
    from lucene_spark.operators.classify import dataset_split
    docs = _docs(spark, sf_dir)
    labeled = docs.select("doc_id", F.col("lang").alias("cls"))
    out = dataset_split(labeled, test_ratio=0.2, cv_ratio=0.1)
    return (out.where(F.col("doc_id") < 400)
            .select("doc_id", "split"))


def _q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNearestNeighborClassifier (reference
    ``classification/KNearestNeighborClassifier.java:154-236``): MLT
    top-10 for seed doc 0 (same selection as ``mlt_top10``), class vote
    = Σ(score/maxScore) / min(k, labeled hits) per lang."""
    from lucene_spark.operators.classify import knn_classify
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    labels = docs.select("doc_id", F.col("lang").alias("cls"))
    votes = knn_classify(s, docs, 0, labels, k=10, max_query_terms=5,
                         min_term_freq=2, min_doc_freq=5)
    return votes.select("cls", F.col("rank").cast("int").alias("rank"),
                        F.floor(F.col("score") * 1000000)
                        .cast("long").alias("score_q6"))


def _q_knn_classify_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNearestNeighborClassifier.getClasses over raw text (reference
    ``classification/KNearestNeighborClassifier.java:96-214``): boosted
    MLT term selection (f32 tf·idf, min-of-selected normalization —
    ``queries/mlt/MoreLikeThis.java:createQuery``), boosted-OR BM25
    top-10, per-class (count·(Σ s/maxScore)/count)/k with the k/sumdoc
    correction. Fixed input text over three common corpus terms."""
    from lucene_spark.operators.classify import knn_classify_text
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    classes = docs.select("doc_id", F.col("lang").alias("cls"))
    res = knn_classify_text(
        s, classes, f"{T_COMMON} {T_COMMON} {T_COMMON} "
        f"{T_COMMON2} {T_COMMON2} {T_THIRD} {T_THIRD}",
        k=10, min_term_freq=2, min_doc_freq=5)
    return res.select(
        "cls", F.floor(F.col("score") * 1000000).cast("long")
        .alias("score_q6"), F.col("cnt").cast("int").alias("cnt"))


def _q_group_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TermGroupFacetCollector (reference
    ``grouping/TermGroupFacetCollector.java``): unique-group counts per
    facet value over the match set — group = lang, facet = source,
    ordered (count desc, value asc), top 10."""
    from lucene_spark.operators.facets import group_facet_counts
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    res = group_facet_counts(s, Q.Term(T_RARE), docs, "lang", "source",
                             min_count=1, size=10, order_by_count=True)
    return res.select("facet", "cnt",
                      F.col("rank").cast("int").alias("rank"))


def _q_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BooleanPerceptronClassifier (reference
    ``classification/BooleanPerceptronClassifier.java``): fit on the
    whole corpus with cls = (lang = 'en'), bias = sumTtf/docCount, and
    ``batch_size`` larger than the training set — so the final compiled
    FST carries exactly doc 0's update (if doc 0 misclassifies under the
    initial ttf weights), the reference's documented FST-lag quirk —
    then assign every doc distributedly. Output: (doc_id, output long,
    assigned 0/1, floor(1e6·(1 − exp(−|bias−output|/bias))))."""
    from lucene_spark.operators.classify import (
        boolean_perceptron_classify, boolean_perceptron_train)
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    train = docs.select("doc_id", "text",
                        (F.col("lang") == "en").alias("cls"))
    model = boolean_perceptron_train(s, train, batch_size=10**9,
                                     tokenize="whitespace")
    res = boolean_perceptron_classify(
        s, docs.select(F.col("doc_id").alias("input_id"), "text"),
        model, tokenize="whitespace")
    return res.select(
        F.col("input_id").alias("doc_id"), "output",
        F.col("assigned").cast("int").alias("assigned"),
        F.floor(F.col("score") * 1000000).cast("long").alias("score_q6"))


def _q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UnifiedHighlighter role: best passage per hit with query terms
    tagged. Deterministic string output → rows-only driver check; golden
    + invariant tests in tests/test_suggest_mlt_highlight.py."""
    s = _searcher(spark, sf_dir)
    res = highlight(s, _docs(spark, sf_dir), Q.And((Q.Term(T_COMMON),
                                                    Q.Term(T_COMMON2))),
                    k=5, window=6)
    return res.select("doc_id", F.col("rank").cast("int").alias("rank"),
                      "snippet")


def _q_highlight_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastVectorHighlighter role: highlight from the index-time
    term-vector offsets sidecar (no query-time re-analysis). The entry
    ASSERTS byte-equality against the re-analysis highlighter on the
    same hits before returning — a mismatch errors the row, so the
    driver's rows-only check doubles as the parity gate."""
    from lucene_spark.operators.highlight import highlight_tv
    key = "tv:" + os.path.abspath(sf_dir)
    if key not in _BUILT:
        tag = hashlib.md5(f"{_INDEX_VERSION}:{key}".encode()) \
            .hexdigest()[:10]
        idx = os.path.join(tempfile.gettempdir(),
                           f"lucene_spark_idx_{tag}")
        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("text").alias("content"))
        build_index(spark, docs, idx, num_segments=_SEGMENTS, build_id=tag,
                    content_col="content", doc_id_col="doc_id",
                    stopwords=frozenset(), store_positions=True,
                    store_term_vectors=True)
        _BUILT[key] = idx
    s = Searcher(spark, _BUILT[key])
    q = Q.And((Q.Term(T_COMMON), Q.Term(T_COMMON2)))
    docs = _docs(spark, sf_dir)
    tv = highlight_tv(s, docs, q, k=5, window=6, text_col="text") \
        .select("doc_id", F.col("rank").cast("int").alias("rank"),
                "snippet")
    rean = highlight(s, docs, q, k=5, window=6, text_col="text") \
        .select("doc_id", F.col("rank").cast("int").alias("rank"),
                "snippet")
    a = [tuple(r) for r in tv.collect()]
    b = [tuple(r) for r in rean.collect()]
    if a != b:
        raise AssertionError("term-vector snippets diverge from "
                             "re-analysis snippets")
    return tv


def _q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs oracle
    path; the LSH-bucketed scale path is differential-tested in
    tests/test_pipeline.py)."""
    emb = _emb(spark, sf_dir)
    res = simsearch.cosine_near_duplicates(emb, 0.4)
    return res.select("id_a", "id_b", _q4(F.col("cos")).alias("cos_q4"))


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, genuinely pruned (nprobe 3 of 8 lists) — approximate by
    design → rows-only check; recall vs brute force is pytest-gated."""
    emb = _emb(spark, sf_dir)
    res = simsearch.ivf_topk(emb, emb.where(F.col("vec_id") < 20), k=5,
                             num_centroids=8, nprobe=3, iters=1)
    return res.select("query_id", "neighbor_id", "rank",
                      _q4(F.col("cos")).alias("cos_q4"))


def _q_ivf_full_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe == num_centroids: exhaustive by construction, so
    it must equal the brute-force SQL oracle exactly (rank + cosine)."""
    emb = _emb(spark, sf_dir)
    res = simsearch.ivf_topk(emb, emb.where(F.col("vec_id") < 20), k=5,
                             num_centroids=8, nprobe=8, iters=1)
    return res.select("query_id", "neighbor_id", "rank",
                      _q4(F.col("cos")).alias("cos_q4"))


def _q_block_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ToParentBlockJoinQuery (ScoreMode.Max): blocks are the 5-doc id
    ranges closed by parents (doc_id % 5 == 4); parents score the max of
    their matching children's BM25 scores."""
    s = _searcher(spark, sf_dir)
    parents = _docs(spark, sf_dir).select("doc_id") \
        .where(F.col("doc_id") % 5 == 4)
    res = facets.to_parent_block_join(s, Q.Term(T_COMMON), parents,
                                      score_mode="max")
    w = Window.orderBy(F.desc("score"), F.asc("parent_id"))
    return (res.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= 10)
               .select("parent_id", F.col("rank").cast("int").alias("rank"),
                       _q4(F.col("score")).alias("score_q4"), "n_children"))


def _q_block_join_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ToChildBlockJoinQuery: children of parents (doc_id % 5 == 4) that
    match the query; each child carries exactly its parent's score."""
    s = _searcher(spark, sf_dir)
    parents = _docs(spark, sf_dir).select("doc_id") \
        .where(F.col("doc_id") % 5 == 4)
    res = facets.to_child_block_join(s, Q.Term(T_COMMON), parents)
    w = Window.orderBy(F.desc("score"), F.asc("parent_id"), F.asc("doc_id"))
    return (res.withColumn("rank", F.row_number().over(w))
               .where(F.col("rank") <= 20)
               .select("doc_id", "parent_id",
                       F.col("rank").cast("int").alias("rank"),
                       _q4(F.col("score")).alias("score_q4")))


def _q_facet_sum_vs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TaxonomyFacetSumValueSource (reference ``facet/taxonomy/
    TaxonomyFacetSumValueSource.java:48-115``): per-lang SUM of an
    expression over score AND a doc column (the DoubleValuesSource.SCORES
    + field composition) over the T_COMMON match set."""
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    res = facets.facet_sum_value_source(
        s, Q.Term(T_COMMON), docs, "lang",
        "cast(score as double) + 0.001 * n_chars")
    return res.select("lang",
                      F.floor(F.col("value_sum") * 100).cast("long")
                      .alias("vsum_q2"), "cnt")


def _q_assoc_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TaxonomyFacetSumIntAssociations: per-lang SUM of n_chars over the
    match set instead of a doc count."""
    s = _searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return facets.sum_association_facets(s, Q.Term(T_RARE), docs,
                                         "lang", "n_chars")


def _q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (KnnFloatVectorQuery(filter) role): the
    BM25 engine's match set for a boolean filter restricts the IVF
    search; nprobe == num_centroids makes it exact on the filtered
    subset → brute-force SQL oracle over the same subset."""
    s = _searcher(spark, sf_dir)
    allowed = s.matching_docs(Q.Or((Q.Term(T_RARE), Q.Term(SYN_A))))
    emb = _emb(spark, sf_dir)
    res = simsearch.filtered_topk(
        emb, emb.where(F.col("vec_id") < 20), k=5, allowed=allowed,
        method="ivf", num_centroids=8, nprobe=8, iters=1)
    return res.select("query_id", "neighbor_id", "rank",
                      _q4(F.col("cos")).alias("cos_q4"))


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = multimodal.extract_meta(
        multimodal.attach_payload(_docs(spark, sf_dir)))
    return df.select("doc_id", "media_type",
                     F.col("payload_len").cast("int").alias("payload_len"),
                     "payload_md5")


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = multimodal.decode_features(
        multimodal.attach_payload(_docs(spark, sf_dir)), fake=True)
    return (feats.select("doc_id", F.posexplode("features")
                         .alias("dim", "feat"))
            .select("doc_id", F.col("dim").cast("int").alias("dim"),
                    _q4(F.col("feat"), 1000000).alias("feat_q6")))



# ---------------------------------------------------------------------------
# Interval query oracles (queries/intervals — saturation-scored minimal
# intervals; see lucene_spark/functions/intervals.py for the engine side)
# ---------------------------------------------------------------------------

def _istream_sql(name: str, terms) -> str:
    """Position-stream CTE: one term, an OR-of-terms union, or a
    ("prefix", p) dictionary expansion (MultiTermIntervalsSource)."""
    if isinstance(terms, str):
        cond = f"term = '{terms}'"
    elif isinstance(terms, tuple) and len(terms) == 2 \
            and terms[0] == "prefix":
        cond = f"term LIKE '{terms[1]}%'"
    else:
        inl = ", ".join(f"'{t}'" for t in terms)
        cond = f"term IN ({inl})"
    return f"{name} AS (SELECT doc_id, pos FROM tok WHERE {cond})"


def _interval_ordered_cte(streams: tuple) -> str:
    """CTE chain ending in ``imin(doc_id, l, e)`` — the minimal ordered
    intervals over the given width-1 streams: greedy chain ends via
    stepwise min-greater joins, then the last start per (doc, end)
    (chain ends are nondecreasing in start, so max(s) per end is the
    minimal interval — OrderedIntervalsSource.java:135 role)."""
    n = len(streams)
    parts = [_istream_sql(f"iv{j}", s) for j, s in enumerate(streams)]
    prev_end = "a.pos"
    chain = """
ic1 AS (SELECT a.doc_id, a.pos AS s, min(b.pos) AS e
        FROM iv0 a JOIN iv1 b ON b.doc_id = a.doc_id AND b.pos > a.pos
        GROUP BY 1, 2)"""
    parts.append(chain.strip())
    for j in range(2, n):
        parts.append(f"""ic{j} AS (SELECT c.doc_id, c.s, min(d.pos) AS e
        FROM ic{j-1} c JOIN iv{j} d
          ON d.doc_id = c.doc_id AND d.pos > c.e
        GROUP BY 1, 2)""")
    parts.append(f"imin AS (SELECT doc_id, max(s) AS l, e AS r "
                 f"FROM ic{n-1} GROUP BY doc_id, e)")
    return ",\n".join(parts)


def _interval_score_sql(freq_cte: str, pivot: float = 1.0,
                        boost: float = 1.0, k: int = 10) -> str:
    """Saturation score (IntervalScoreFunction.java:66-76, float32 op
    order: 1f - pivot/(pivot + freq)) + the shared top-k shape."""
    return f""",
isc AS (SELECT f.doc_id,
               CAST(CAST({boost} AS FLOAT) *
                    (CAST(1.0 AS FLOAT) - CAST({pivot} AS FLOAT) /
                     (CAST({pivot} AS FLOAT) + CAST(f.freq AS FLOAT)))
                    AS FLOAT) AS s
        FROM {freq_cte} f)""" + _topk_sql("isc", k)


def _interval_ordered_exact3_sql(t0: str, t1: str, t2: str,
                                 k: int = 10) -> str:
    """Reference-EXACT 3-clause ordered intervals as a recursive SQL
    walk (OrderedIntervalsSource.java:117-186 lastStart minimization —
    the declarative last-start-per-end antichain only coincides with
    the lazy walk for <= 2 clauses). One recursion step = one
    nextInterval call on the walk state (f = sub0 current, q1/q2 =
    consumed pointers of sub1/sub2):

    * forced chain: c1 = first S1 pos > max(q1, f); R = first S2 pos >
      max(q2, c1) — every sub advances at least once per emission.
    * minimized start: fs = last S0 pos < (last S1 pos < R).
    * post-state: f' = first S0 pos > fs; sub1 rebuilds to the floored
      chain of f' only while f' < R (the end() >= lastStart return).

    freq = float32 += 1/max(len - minExtent + 1, 1) in emission order
    (IntervalScorer.java:66-75, minExtent = 3)."""
    sql = (_PRELUDE + f""",
it0 AS (SELECT doc_id, pos FROM tok WHERE term = '{t0}'),
it1 AS (SELECT doc_id, pos FROM tok WHERE term = '{t1}'),
it2 AS (SELECT doc_id, pos FROM tok WHERE term = '{t2}'),
iwalk(doc_id, f, q1, q2, l, r) AS (
  SELECT doc_id, min(pos), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
  FROM it0 GROUP BY doc_id
  UNION ALL
  SELECT w.doc_id, ee.fn,
         CASE WHEN ee.fn IS NOT NULL AND ee.fn < b.rr
              THEN CASE WHEN a.c1 > ee.fn THEN a.c1
                   ELSE (SELECT min(pos) FROM it1
                         WHERE doc_id = w.doc_id AND pos > ee.fn) END
              ELSE a.c1 END,
         b.rr, dd.fs, b.rr
  FROM iwalk w
  CROSS JOIN LATERAL (SELECT (SELECT min(pos) FROM it1
                              WHERE doc_id = w.doc_id
                                AND pos > greatest(w.q1, w.f)) AS c1) a
  CROSS JOIN LATERAL (SELECT (SELECT min(pos) FROM it2
                              WHERE doc_id = w.doc_id
                                AND pos > greatest(w.q2, a.c1)) AS rr) b
  CROSS JOIN LATERAL (SELECT (SELECT max(pos) FROM it1
                              WHERE doc_id = w.doc_id
                                AND pos < b.rr) AS l1) c
  CROSS JOIN LATERAL (SELECT (SELECT max(pos) FROM it0
                              WHERE doc_id = w.doc_id
                                AND pos < c.l1) AS fs) dd
  CROSS JOIN LATERAL (SELECT (SELECT min(pos) FROM it0
                              WHERE doc_id = w.doc_id
                                AND pos > dd.fs) AS fn) ee
  WHERE w.f IS NOT NULL AND a.c1 IS NOT NULL AND b.rr IS NOT NULL
),
ifreq AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE)
                 / greatest(r - l + 1 - 3 + 1, 1) ORDER BY l)),
          (x, y) -> CAST(CAST(x AS DOUBLE) + y AS FLOAT)) AS freq
          FROM iwalk WHERE l IS NOT NULL GROUP BY 1)"""
           + _interval_score_sql("ifreq", k=k))
    return sql.replace("WITH ", "WITH RECURSIVE ", 1)


def _interval_repeat_sql(term: str, count: int, k: int = 10) -> str:
    """RepeatingIntervalsSource twin (reference build() collapses
    ordered(t, t, ...) into a sliding window of ``count`` consecutive
    occurrences — RepeatingIntervalsSource.java): window j =
    [p_j, p_{j+count-1}]. minExtent is the INNER source's (1, not
    count — Repeating.minExtent() delegates), so the freq contribution
    is 1/max(len - 1 + 1, 1) = 1/len; f32-accumulated in window
    order."""
    return (_PRELUDE + f""",
rp AS (SELECT doc_id, pos,
              row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rk
       FROM tok WHERE term = '{term}'),
rwin AS (SELECT a.doc_id, a.pos AS l, b.pos AS r
         FROM rp a JOIN rp b
           ON b.doc_id = a.doc_id AND b.rk = a.rk + {count - 1}),
ifreq AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE)
                 / greatest(r - l + 1 - 1 + 1, 1) ORDER BY l)),
          (x, y) -> CAST(CAST(x AS DOUBLE) + y AS FLOAT)) AS freq
          FROM rwin GROUP BY 1)"""
            + _interval_score_sql("ifreq", k=k))


def _interval_ordered_sql(streams: tuple, maxgaps: int | None = None,
                          k: int = 10) -> str:
    n = len(streams)
    gfilter = f"WHERE (r - l + 1) - {n} <= {maxgaps}" \
        if maxgaps is not None else ""
    return (_PRELUDE + "," + _interval_ordered_cte(streams) + f""",
ifreq AS (SELECT doc_id,
                 sum(CAST(1.0 AS DOUBLE)
                     / greatest(r - l + 1 - {n} + 1, 1)) AS freq
          FROM imin {gfilter} GROUP BY 1)"""
            + _interval_score_sql("ifreq", k=k))


def _interval_unordered_sql(terms: tuple[str, ...], k: int = 10) -> str:
    """Unordered minimal intervals = the double-minimal windows (shared
    _span_windows_cte with no slop cap); 1/(1+ml) = the saturation
    contribution 1/max(len - minExtent + 1, 1)."""
    n = len(terms)
    return (_PRELUDE + "," + _unordered_minwin_cte(terms, 1 << 30) + """,
ifreq AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE) / (1 + ml) ORDER BY l, r)),
          (a, b) -> CAST(CAST(a AS DOUBLE) + b AS FLOAT)) AS freq
          FROM wins GROUP BY 1)"""
            + _interval_score_sql("ifreq", k=k))


def _interval_containing_sql(big_terms: tuple[str, ...], small: str,
                             k: int = 10) -> str:
    """containing(unordered(big_terms), small): big windows keeping one
    small position inside; contribution keyed on the BIG side's extent
    (ContainingIntervalsSource.minExtent = big.minExtent)."""
    return (_PRELUDE + "," + _unordered_minwin_cte(big_terms, 1 << 30) + f""",
icont AS (SELECT w.doc_id, w.l, w.r, w.ml FROM wins w
          WHERE EXISTS (SELECT 1 FROM tok t
                        WHERE t.term = '{small}'
                          AND t.doc_id = w.doc_id
                          AND t.pos BETWEEN w.l AND w.r)),
ifreq AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE) / (1 + ml) ORDER BY l, r)),
          (a, b) -> CAST(CAST(a AS DOUBLE) + b AS FLOAT)) AS freq
          FROM icont GROUP BY 1)"""
            + _interval_score_sql("ifreq", k=k))




def _interval_atleast_sql(terms: tuple[str, ...], m: int,
                          k: int = 10) -> str:
    """atLeast(m, terms...) (MinimumShouldMatchIntervalsSource): the
    containment-minimal windows holding >= m of the n term streams —
    per candidate right end r, the left end is the m-th largest of the
    per-stream "last position <= r" values; an anti-containment filter
    then keeps the minimal set. minExtent = m (sum of the m smallest
    unit sub-extents), so the contribution is
    1/max(len - m + 1, 1)."""
    ap_union = "\n       UNION ALL ".join(
        f"SELECT doc_id, {j} AS cl, pos FROM tok WHERE term = '{t}'"
        for j, t in enumerate(terms))
    return (_PRELUDE + f""",
ap AS ({ap_union}),
rend AS (SELECT DISTINCT doc_id, pos AS r FROM ap),
mj AS (SELECT r.doc_id, r.r, a.cl, max(a.pos) AS mx
       FROM rend r JOIN ap a ON a.doc_id = r.doc_id AND a.pos <= r.r
       GROUP BY 1, 2, 3),
lcand AS (SELECT doc_id, r, mx AS l FROM (
       SELECT doc_id, r, mx,
              row_number() OVER (PARTITION BY doc_id, r
                                 ORDER BY mx DESC) AS rn
       FROM mj) WHERE rn = {m}),
wins AS (SELECT DISTINCT c.doc_id, c.l, c.r FROM lcand c
         WHERE NOT EXISTS (SELECT 1 FROM lcand o
                           WHERE o.doc_id = c.doc_id
                             AND o.l >= c.l AND o.r <= c.r
                             AND (o.l > c.l OR o.r < c.r))),
ifreq AS (SELECT doc_id,
                 sum(CAST(1.0 AS DOUBLE)
                     / greatest(r - l + 1 - {m} + 1, 1)) AS freq
          FROM wins GROUP BY 1)"""
            + _interval_score_sql("ifreq", k=k))


def _interval_nested_sql(t1: str, t2: str, t3: str, ordered: bool,
                         k: int = 10) -> str:
    """Nested interval twin: outer ordered/unordered over
    (inner = ordered(t1, t2), term t3). Candidates are ALL (inner
    interval, t3 position) pairs — ordered: p > inner.r, window
    [inner.l, p]; unordered: window [min(l, p), max(r, p)] — and the
    NOT EXISTS anti-containment filter keeps exactly the minimal set
    (the predicate is monotone under window inclusion, so the engine's
    greedy-chain emissions are this antichain). minExtent = 3."""
    if ordered:
        cand = """cand AS (SELECT i.doc_id, i.l AS cl, t.pos AS cr
         FROM imin i JOIN tok t
           ON t.doc_id = i.doc_id AND t.term = '{t3}' AND t.pos > i.r)"""
    else:
        cand = """cand AS (SELECT i.doc_id, least(i.l, t.pos) AS cl,
                greatest(i.r, t.pos) AS cr
         FROM imin i JOIN tok t
           ON t.doc_id = i.doc_id AND t.term = '{t3}')"""
    cand = cand.format(t3=t3)
    return (_PRELUDE + "," + _interval_ordered_cte((t1, t2)) + f""",
{cand},
wins AS (SELECT DISTINCT c.doc_id, c.cl, c.cr FROM cand c
         WHERE NOT EXISTS (SELECT 1 FROM cand o
                           WHERE o.doc_id = c.doc_id
                             AND o.cl >= c.cl AND o.cr <= c.cr
                             AND (o.cl > c.cl OR o.cr < c.cr))),
ifreq AS (SELECT doc_id,
                 sum(CAST(1.0 AS DOUBLE)
                     / greatest(cr - cl + 1 - 3 + 1, 1)) AS freq
          FROM wins GROUP BY 1)"""
            + _interval_score_sql("ifreq", k=k))


def _interval_block_or_sql(alts: tuple[str, ...], t2: str,
                           k: int = 10) -> str:
    """phrase(or(alts...), t2) (BlockIntervalsSource over an or-of-terms
    first slot): start p matches when some alt is at p and t2 at p+1;
    duplicate (doc, p) across alts count once. minExtent = 2, block
    len = 2 → every match contributes 1."""
    terms = ", ".join(f"'{t}'" for t in alts)
    return (_PRELUDE + f""",
mp0 AS (SELECT DISTINCT doc_id, pos FROM tok WHERE term IN ({terms})),
wins AS (SELECT p0.doc_id, p0.pos
         FROM mp0 p0 JOIN tok p1
           ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
         WHERE p1.term = '{t2}'),
ifreq AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS freq
          FROM wins GROUP BY 1)"""
            + _interval_score_sql("ifreq", k=k))


def _interval_before_after_sql(src: str, ref: str, after: bool = False,
                               k: int = 10) -> str:
    """before(src, ref) / after(src, ref) over term leaves: a src point
    p matches when p <= s_ref - 1 for SOME ref position (i.e. p < the
    doc's last ref position) resp. p >= e_ref + 1 for some ref (p > the
    doc's first ref position). Point intervals have extent 1, so freq is
    the matching-position count."""
    # The before point-set is clamped at the doc base like the engine
    # and the reference (OffsetIntervalsSource's Math.max(0, pos-1)):
    # a src token at position 0 matches "before" a ref at position 0,
    # so the bound is <= max(greatest(ref.pos - 1, 0)), not < max(pos).
    cmp = (f"s.pos > (SELECT min(r.pos) FROM tok r "
           f"WHERE r.term = '{ref}' AND r.doc_id = s.doc_id)" if after
           else f"s.pos <= (SELECT max(greatest(r.pos - 1, 0)) FROM tok r "
                f"WHERE r.term = '{ref}' AND r.doc_id = s.doc_id)")
    return (_PRELUDE + f""",
ifreq AS (SELECT s.doc_id, CAST(count(*) AS DOUBLE) AS freq
          FROM tok s
          WHERE s.term = '{src}' AND {cmp}
          GROUP BY 1)"""
            + _interval_score_sql("ifreq", k=k))


def _interval_within_sql(src: str, dist: int, ref: str,
                         k: int = 10) -> str:
    """within(src, dist, ref) = containedBy(src, extend(ref, dist,
    dist)) over term leaves: src points within ``dist`` positions of
    some ref position."""
    return (_PRELUDE + f""",
ifreq AS (SELECT s.doc_id, CAST(count(*) AS DOUBLE) AS freq
          FROM tok s
          WHERE s.term = '{src}'
            AND EXISTS (SELECT 1 FROM tok r
                        WHERE r.term = '{ref}' AND r.doc_id = s.doc_id
                          AND abs(s.pos - r.pos) <= {dist})
          GROUP BY 1)"""
            + _interval_score_sql("ifreq", k=k))


def _synonym_indexed_sql(src_t: str, dst_t: str, qterm: str,
                         k: int = 10) -> str:
    """Oracle for the synonym-indexed build: the expanded token stream
    tok2 = tok + a copy of every ``src_t`` token as ``dst_t`` at the same
    position drives tf/df/sumTotalTermFreq (so avgdl), while norms keep
    the ORIGINAL per-doc token count (discountOverlaps)."""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tok2 AS (SELECT * FROM tok
         UNION ALL
         SELECT doc_id, '{dst_t}' AS term, pos FROM tok
         WHERE term = '{src_t}'),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM doclen) AS dc,
                 (SELECT count(*) FROM tok2) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
, """ + _tscore_cte("ts", qterm) + _topk_sql("ts", k)


def _shingle_indexed_sql(t1: str, t2: str, k: int = 10) -> str:
    """Oracle for the bigram-shingle build: tok2 = tok + every adjacent
    pair joined with ' ' at the first component's position; tf/df/
    sumTotalTermFreq (so avgdl) come from tok2, norms keep the ORIGINAL
    per-doc token count (discountOverlaps)."""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tok2 AS (SELECT * FROM tok
         UNION ALL
         SELECT a.doc_id, a.term || ' ' || b.term AS term, a.pos
         FROM tok a JOIN tok b
           ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM doclen) AS dc,
                 (SELECT count(*) FROM tok2) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
, """ + _tscore_cte("ts", f"{t1} {t2}") + _topk_sql("ts", k)



def _common_grams_sql(common: str, t2: str, k: int = 10) -> str:
    """Oracle for the common-grams build: tok2 = tok + '_'-joined grams
    for adjacent pairs where either side == ``common``; stats from tok2,
    norms from the original token count (discountOverlaps)."""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tok2 AS (SELECT * FROM tok
         UNION ALL
         SELECT a.doc_id, a.term || '_' || b.term AS term, a.pos
         FROM tok a JOIN tok b
           ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         WHERE a.term = '{common}' OR b.term = '{common}'),
lut(v) AS (VALUES {_LUT_V}),
stats AS (SELECT (SELECT count(*) FROM doclen) AS dc,
                 (SELECT count(*) FROM tok2) AS sttf),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1)
, """ + _tscore_cte("ts", t2) + _topk_sql("ts", k)


def _common_terms_sql(terms: tuple[str, ...], max_tf: float,
                      k: int = 10) -> str:
    """CommonTermsQuery oracle: df split computed IN SQL against the same
    corpus stats (high iff df > ceil(max_tf * docCount)); low group =
    required SHOULD sum, high group = optional SHOULD sum added on
    co-matching docs (ReqOptSumScorer float32 boundaries). Assumes both
    groups are non-empty for the chosen terms (true for the entry's
    corpus; the engine handles all three shapes)."""
    ctes = ", ".join(_tscore_cte(f"cts{j}", t) for j, t in enumerate(terms))
    inl = ", ".join(f"'{t}'" for t in terms)
    union = " UNION ALL ".join(
        f"SELECT '{t}' AS term, doc_id, s FROM cts{j}"
        for j, t in enumerate(terms))
    return (_PRELUDE + ", " + ctes + f""",
ctcls AS (SELECT d.term,
                 CASE WHEN CAST(d.df AS BIGINT)
                        > CAST(ceil(CAST({max_tf} AS DOUBLE) * a.dc)
                               AS BIGINT)
                      THEN 1 ELSE 0 END AS hi
          FROM dfs d, avgs a WHERE d.term IN ({inl})),
ctall AS ({union}),
ctlow AS (SELECT t.doc_id, CAST(sum(CAST(t.s AS DOUBLE)) AS FLOAT) AS s
          FROM ctall t JOIN ctcls c ON c.term = t.term AND c.hi = 0
          GROUP BY 1),
cthigh AS (SELECT t.doc_id, CAST(sum(CAST(t.s AS DOUBLE)) AS FLOAT) AS s
           FROM ctall t JOIN ctcls c ON c.term = t.term AND c.hi = 1
           GROUP BY 1),
ctsc AS (SELECT l.doc_id,
                CAST(CAST(l.s AS DOUBLE)
                     + COALESCE(CAST(h.s AS DOUBLE), 0) AS FLOAT) AS s
         FROM ctlow l LEFT JOIN cthigh h ON h.doc_id = l.doc_id)"""
            + _topk_sql("ctsc", k))



def _geo_box_sql() -> str:
    b = _GEO_BOX
    return f"""
WITH {_GEO_SQL_COORDS.strip()}
SELECT CAST(count(*) AS BIGINT) AS cnt FROM geo
WHERE lat >= {b[0]!r} AND lat <= {b[1]!r}
  AND lon >= {b[2]!r} AND lon <= {b[3]!r}"""


def _geo_nearest_sql(k: int = 10) -> str:
    from lucene_spark.operators.geo import distance_sort_key_sql
    key = distance_sort_key_sql(*_GEO_CENTER)
    return f"""
WITH {_GEO_SQL_COORDS.strip()}
SELECT doc_id, CAST(rnk AS INT) AS rank,
       CAST(floor(k * 1000000) AS BIGINT) AS key_q6
FROM (SELECT doc_id, {key} AS k,
             row_number() OVER (ORDER BY {key} ASC, doc_id ASC) AS rnk
      FROM geo)
WHERE rnk <= {k}"""


def _geo_distance_sql(radius_deg: float = 25.0) -> str:
    import math as _m
    from lucene_spark.operators.geo import distance_sort_key_sql
    clat, clon = _GEO_CENTER
    key = distance_sort_key_sql(clat, clon)
    kk = _m.cos(_m.radians(clat))
    dlon = radius_deg / max(kk, 1e-9)
    lo_lon = max(clon - dlon, -180.0)
    hi_lon = min(clon + dlon, 180.0)
    return f"""
WITH {_GEO_SQL_COORDS.strip()}
SELECT CAST(count(*) AS BIGINT) AS cnt FROM geo
WHERE lat >= {clat - radius_deg!r} AND lat <= {clat + radius_deg!r}
  AND lon >= {lo_lon!r} AND lon <= {hi_lon!r}
  AND {key} <= {radius_deg * radius_deg!r}"""


def _geo_polygon_sql() -> str:
    from lucene_spark.operators.geo import point_in_polygon_sql
    pred = point_in_polygon_sql(_GEO_POLY)
    return f"""
WITH {_GEO_SQL_COORDS.strip()}
SELECT doc_id FROM geo WHERE {pred}"""


def _geo3d_members_sql(shape) -> str:
    """Twin for the geo3d shape entries: the same xyz placement +
    quantization + plane-constant predicate, all in SQL (the plane
    constants are the Python-computed doubles embedded as literals —
    identical on both sides by construction)."""
    from lucene_spark.operators.geo3d import geo3d_xyz_sql_ctes
    return f"""
WITH {_GEO_SQL_COORDS.strip()},
{geo3d_xyz_sql_ctes("geo", shape.planet_model)}
SELECT doc_id FROM g3d_xyz WHERE {shape.sql_predicate()}"""


def _geo3d_circle_sql() -> str:
    from lucene_spark.operators.geo3d import WGS84, geo_circle_from_meters
    return _geo3d_members_sql(geo_circle_from_meters(
        WGS84, _G3D_CENTER[0], _G3D_CENTER[1], _G3D_RADIUS_M))


def _geo3d_bbox_sql() -> str:
    from lucene_spark.operators.geo3d import WGS84, geo_bbox_from_degrees
    return _geo3d_members_sql(geo_bbox_from_degrees(
        WGS84, _G3D_BOX[0], _G3D_BOX[1], _G3D_BOX[2], _G3D_BOX[3]))


def _geo3d_polygon_sql() -> str:
    return _geo3d_members_sql(_g3d_polygon_shape())


def _geo3d_path_sql() -> str:
    from lucene_spark.operators.geo3d import WGS84, geo_path_from_meters
    return _geo3d_members_sql(geo_path_from_meters(
        WGS84, _G3D_PATH, _G3D_PATH_WIDTH_M))


def _geo3d_exact_circle_sql() -> str:
    return _geo3d_members_sql(_g3d_exact_circle_shape())


def _geo3d_factory_polygon_sql() -> str:
    return _geo3d_members_sql(_g3d_factory_polygon_shape())


def _geo3d_docvalue_sql() -> str:
    from lucene_spark.operators.geo3d import WGS84, geo3d_xyz_sql_ctes
    enc = WGS84.doc_value_encoder
    return f"""
WITH {_GEO_SQL_COORDS.strip()},
geo1 AS (SELECT * FROM geo WHERE doc_id >= 1),
{geo3d_xyz_sql_ctes("geo1", WGS84, quantize=False)}
SELECT doc_id, {enc.encode_sql("g3d_x", "g3d_y", "g3d_z")} AS g3d_dv
FROM g3d_xyz ORDER BY doc_id LIMIT 25"""


def _geo3d_nearest_sql(k: int = 10) -> str:
    from lucene_spark.operators.geo3d import (RADIANS_PER_DEGREE, WGS84,
                                              GeoPoint3D, _dv_roundtrip_sql,
                                              geo3d_xyz_sql_ctes)
    c = GeoPoint3D.from_lat_lon(WGS84, _G3D_CENTER[0] * RADIANS_PER_DEGREE,
                                _G3D_CENTER[1] * RADIANS_PER_DEGREE)
    cmag = c.magnitude()
    enc = WGS84.doc_value_encoder
    # the reference comparator decodes the 21-bit docvalue grid
    dx = _dv_roundtrip_sql("g3d_x", enc.min_x, enc.x_factor,
                           enc.inverse_x_factor)
    dy = _dv_roundtrip_sql("g3d_y", enc.min_y, enc.y_factor,
                           enc.inverse_y_factor)
    dz = _dv_roundtrip_sql("g3d_z", enc.min_z, enc.z_factor,
                           enc.inverse_z_factor)
    arc = (f"acos(least(greatest(({c.x!r} * dvx + {c.y!r} * dvy + "
           f"{c.z!r} * dvz) / ({cmag!r} * sqrt(dvx * dvx + "
           f"dvy * dvy + dvz * dvz)), -1.0), 1.0))")
    return f"""
WITH {_GEO_SQL_COORDS.strip()},
{geo3d_xyz_sql_ctes("geo", WGS84, quantize=False)},
dv AS (SELECT doc_id, {dx} AS dvx, {dy} AS dvy, {dz} AS dvz
       FROM g3d_xyz)
SELECT doc_id, CAST(floor(arc * 1000000) AS BIGINT) AS arc_q6
FROM (SELECT doc_id, {arc} AS arc FROM dv)
ORDER BY arc ASC, doc_id ASC LIMIT {k}"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 conjunction top-10 on sf0.001 (build + search)."""
    return _search(Q.And((Q.Term(T_COMMON), Q.Term(T_COMMON2))))(
        spark, "/root/testdata/sf0.001")


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- BM25 search family (SURVEY.md §2.3) ---
        "bm25_term_top10": _search(Q.Term(T_COMMON)),
        "bm25_term_rare_top10": _search(Q.Term(T_RARE)),
        "bm25_boost_top10": _search(Q.Term(T_COMMON, boost=2.0)),
        "bm25_and_top10": _search(Q.And((Q.Term(T_COMMON), Q.Term(T_COMMON2)))),
        "bm25_and_bmw_top10": _search(
            Q.And((Q.Term(T_COMMON), Q.Term(T_COMMON2))), mode="bmw"),
        "bm25_or_top10": _search(Q.Or((Q.Term(T_A), Q.Term(T_B)))),
        "bm25_or_bmw_top10": _search(Q.Or((Q.Term(T_A), Q.Term(T_B))),
                                     mode="bmw"),
        "bm25_or3_top10": _search(
            Q.Or((Q.Term(T_COMMON), Q.Term(T_COMMON2), Q.Term(T_THIRD)))),
        "bm25_not_top10": _search(Q.Not(Q.Term(T_COMMON), Q.Term(T_RARE))),
        "bm25_filter_top10": _search(
            Q.ReqFilter(Q.Term(T_COMMON), Q.Term(T_COMMON2))),
        "bm25_synonym_top10": _search(Q.Synonym((SYN_A, SYN_B))),
        "bm25_synonym_boosted_top10": _search(Q.Synonym(
            (SYN_A, SYN_B), boosts=(1.0, 0.4))),
        "bm25_phrase_top10": _search(Q.Phrase((PH_A, PH_B))),
        "bm25_sloppy_phrase_top10": _search(
            Q.Phrase((T_COMMON, T_COMMON2), slop=3)),
        "bm25_sloppy3_top10": _search(
            Q.Phrase((T_COMMON, T_COMMON2, T_THIRD), slop=4)),
        "bm25_dismax_top10": _search(
            Q.DisMax((Q.Term(T_COMMON), Q.Term(T_COMMON2)), 0.0)),
        "bm25_multiphrase_top10": _search(Q.MultiPhrase(
            ((T_COMMON, SYN_A), (T_COMMON2,)))),
        # round-5: sloppy MultiPhrase with a term SHARED across columns
        # (hasMultiTermRpts hidden collisions — SloppyPhraseMatcher MTP
        # machinery, golden-pinned in test_multiphrase_repeat_goldens)
        "bm25_multiphrase_repeat_top10": _search(Q.MultiPhrase(
            ((T_COMMON, T_COMMON2), (T_COMMON2,)), slop=3)),
        "bm25_gap_phrase_top10": _search(Q.Phrase(
            (T_COMMON, T_COMMON2), positions=(0, 2))),
        "bm25_prefix_multiphrase_top10": _search(Q.MultiPhrase(
            ((("prefix", "du"),), (T_RARE,)))),
        # PhraseWildcardQuery (sandbox/search/PhraseWildcardQuery.java):
        # a phrase with multi-term sub-queries at some positions —
        # expanded against the dictionary and executed as a MultiPhrase
        # (the sandbox class is a segment-level-pruning optimization of
        # exactly this rewrite; here per-segment scoring after expansion
        # plays that role)
        "phrase_wildcard_top10": _search(Q.MultiPhrase(
            ((("wildcard", "s????"),), (T_COMMON,)))),
        "bm25_gap_sloppy_top10": _search(Q.Phrase(
            (T_COMMON, T_COMMON2), slop=2, positions=(0, 2))),
        "batch_search": _q_batch_search,
        "tfidf_term_top10": _q_tfidf,
        "bm25_prefix_scored_top10": _search(
            Q.And((Q.MultiTerm("prefix", "du"), Q.Term(T_COMMON)))),
        "bm25_msm2_top10": _search(
            Q.Or((Q.Term(T_A), Q.Term(T_B), Q.Term(SYN_A)), 2)),
        "function_score_top10": _q_function_score,
        "covering_top10": _q_covering,
        "search_after_page2": _q_search_after,
        "total_hits_count": _q_total_hits,
        "prefix_query": _q_prefix,
        "wildcard_query": _q_wildcard,
        "regexp_query": _q_regexp,
        "high_freq_terms": _q_high_freq_terms,
        "bm25_shingle_top10": _q_shingle_indexed,
        "bm25_common_grams_top10": _q_common_grams,
        "dfi_term_top10": _q_dfi_term,
        "ib_ll_term_top10": _q_ib_term,
        "axiomatic_f2log_term_top10": _q_axiomatic_term,
        "indri_term_top10": _q_indri_term,
        "multi_sim_term_top10": _q_multi_sim_term,
        "dv_numbers_in_set": _q_dv_numbers,
        "dv_terms_in_set": _q_dv_terms,
        "range_field_relations": _q_range_field,
        "spell_scored_suggest": _q_spell_scored,
        "fuzzy_like_this_top10": _q_fuzzy_like_this,
        "blended_infix_suggest": _q_blended_infix,
        "multi_range_query": _q_multi_range,
        "indri_and_top10": _q_indri_and,
        "boolean_term_top10": _q_boolean_term,
        "fuzzy_suggest_top10": _q_fuzzy_suggest,
        "free_text_suggest_top10": _q_free_text_suggest,
        "fuzzy_query": _q_fuzzy,
        "term_in_set": _q_term_in_set,
        "range_query": _q_range,
        "term_range_query": _q_term_range,
        # --- facets / grouping / join (SURVEY.md §2.4) ---
        "facet_counts": _q_facets,
        "sampled_facet_counts": _q_sampled_facets,
        "all_groups_count": _q_all_groups,
        "search_quality": _q_search_quality,
        "decontamination_flags": _q_decontamination,
        "shard_assignment": _q_shard_assignment,
        "mixture_sample": _q_mixture_sample,
        "repetition_stats": _q_repetition,
        "span_not_window_top10": _q_span_not_window,
        "complex_phrase_top10": _q_complex_phrase,
        "sweetspot_term_top10": _q_sweetspot_term,
        "word_break_suggest": _q_word_break,
        "term_automaton_top10": _q_term_automaton,
        "infix_suggest": _q_infix_suggest,
        "bm25_repeat_sloppy_top10": _search(
            Q.Phrase((T_RARE, T_RARE), slop=2)),
        # mixed duplicate shape on the exact advanceRpts collision
        # walk (wave-batched); twin = the same walk as a recursive CTE
        "bm25_repeat_mixed_top10": _search(
            Q.Phrase((T_COMMON, T_COMMON2, T_COMMON), slop=4)),
        "payload_check_top10": _q_payload_check,
        "span_posrange_top10": _search(
            Q.SpanPositionRange(Q.Term(T_COMMON), 5, 25)),
        "range_facet_counts": _q_range_facet,
        "drill_sideways": _q_drill_sideways,
        "grouped_topk": _q_grouped_topk,
        "distinct_values": _q_distinct_values,
        "diversified_topk": _q_diversified_topk,
        "doc_values_stats": _q_doc_values_stats,
        "facet_path_counts": _q_facet_paths,
        "sorted_index_topk": _q_sorted_index_topk,
        "payload_score_top10": _q_payload_score,
        "docvalues_updated": _q_docvalues_updated,
        "function_score_updated_top10": _q_function_score_updated,
        "feature_saturation_top10": _q_feature_saturation,
        "feature_sigmoid_top10": _q_feature_sigmoid,
        "bm25_feature_log_top10": _q_bm25_feature_log,
        "distance_feature_top10": _q_distance_feature,
        "rescore_top10": _q_rescore,
        "nb_classify_docs": _q_nb_classify,
        "bm25nb_classify_docs": _q_bm25nb_classify,
        "confusion_nb_metrics": _q_confusion_nb,
        "nb_document_classify": _q_nb_document,
        "knn_document_top": _q_knn_document,
        "payloads_for_query": _q_payloads_for_query,
        "dataset_split_assign": _q_dataset_split,
        "knn_classify_doc0": _q_knn_classify,
        "knn_classify_text": _q_knn_classify_text,
        "perceptron_assign": _q_perceptron,
        "group_facet_counts": _q_group_facets,
        "geo_box_count": _q_geo_box,
        "geo_nearest_top10": _q_geo_nearest,
        "geo_distance_count": _q_geo_distance_count,
        "geo_polygon_docs": _q_geo_polygon,
        "geo3d_circle_docs": _q_geo3d_circle,
        "geo3d_bbox_docs": _q_geo3d_bbox,
        "geo3d_polygon_docs": _q_geo3d_polygon,
        "geo3d_path_docs": _q_geo3d_path,
        "geo3d_exact_circle_docs": _q_geo3d_exact_circle,
        "geo3d_docvalue_top25": _q_geo3d_docvalue,
        "geo3d_factory_polygon_docs": _q_geo3d_factory_polygon,
        "geo3d_nearest_top10": _q_geo3d_nearest,
        "drill_down_path": _q_drill_down_path,
        "sort_by_field": _q_sort_by_field,
        "query_join": _q_join,
        "block_join_topk": _q_block_join,
        "block_join_children_topk": _q_block_join_children,
        "assoc_facet_sum": _q_assoc_facets,
        "facet_sum_value_source": _q_facet_sum_vs,
        # --- merge / incremental build inside the gate ---
        "lmd_term_top10": _q_lmd_term,
        "bm25_deleted_top10": _q_deleted_top10,
        "bm25_soft_deleted_top10": _q_soft_deleted_top10,
        "monitor_matches": _q_monitor,
        "dfr_term_top10": _q_dfr_term,
        "bm25_fuzzy_blended_top10": _q_fuzzy_blended,
        "span_near_top10": _q_span_near,
        "span_repeat_top10": _search(Q.SpanNear(
            (T_COMMON, T_COMMON), slop=3, in_order=False)),
        # round-5: duplicate-term SpanNear NESTED under SpanOr (the
        # composite-tree guard lifted this round; pinned by
        # tests/data/lucene_diff/spanalg_repeat_fuzz.tsv.gz)
        "span_or_repeat_top10": _search(Q.SpanOr((Q.Term(T_THIRD),
            Q.SpanNear((T_COMMON, T_COMMON), slop=3, in_order=False)))),
        "span_or_top10": _q_span_or,
        "span_not_top10": _q_span_not,
        "span_first_top10": _q_span_first,
        "span_containing_top10": _q_span_containing,
        "span_within_top10": _q_span_within,
        "surround_topk": _q_surround,
        "simple_parse_top10": _q_simple_parse,
        "flexible_parse_top10": _q_flexible_parse,
        "points_range_top10": _q_points_parse,
        "xml_parse_top10": _q_xml_parse,
        "suggest_prefix": _q_suggest_prefix,
        "spell_suggest": _q_spell_suggest,
        "mlt_top10": _q_mlt_top10,
        "highlight_top5": _q_highlight,
        "highlight_tv_top5": _q_highlight_tv,
        # --- interval queries (queries/intervals, new r3) ---
        "interval_ordered_top10": _search(Q.Interval(
            ("ordered", (("term", T_COMMON), ("term", T_COMMON2),
                         ("term", T_THIRD))))),
        "interval_maxgaps_top10": _search(Q.Interval(
            ("maxgaps", ("ordered", (("term", T_COMMON),
                                     ("term", T_COMMON2))), 2))),
        "interval_unordered_top10": _search(Q.Interval(
            ("unordered", (("term", T_COMMON), ("term", T_THIRD))))),
        "interval_containing_top10": _search(Q.Interval(
            ("containing", ("unordered", (("term", T_COMMON),
                                          ("term", T_COMMON2))),
             ("term", T_THIRD)))),
        "bm25_synonym_indexed_top10": _q_synonym_indexed,
        "common_terms_top10": _search(Q.CommonTerms(
            (T_COMMON, T_COMMON2, T_RARE), 0.5)),
        "interval_prefix_top10": _search(Q.Interval(
            ("ordered", (("prefix", "sl"), ("term", T_COMMON))))),
        "interval_or_ordered_top10": _search(Q.Interval(
            ("ordered", (("orterms", (T_A, T_B)), ("term", T_COMMON))))),
        "interval_atleast_top10": _search(Q.Interval(
            ("atleast", 2, (("term", T_COMMON), ("term", T_COMMON2),
                            ("term", T_THIRD))))),
        "interval_before_top10": _search(Q.Interval(
            ("before", ("term", T_A), ("term", T_COMMON)))),
        "interval_after_top10": _search(Q.Interval(
            ("after", ("term", T_A), ("term", T_COMMON)))),
        "interval_within_top10": _search(Q.Interval(
            ("within", ("term", T_A), 3, ("term", T_COMMON)))),
        "interval_nested_ordered_top10": _search(Q.Interval(
            ("ordered", (("ordered", (("term", T_COMMON),
                                      ("term", T_COMMON2))),
                         ("term", T_THIRD))))),
        "interval_nested_unordered_top10": _search(Q.Interval(
            ("unordered", (("ordered", (("term", T_COMMON),
                                        ("term", T_COMMON2))),
                           ("term", T_THIRD))))),
        "interval_repeat_top10": _search(Q.Interval(
            ("ordered", (("term", T_COMMON), ("term", T_COMMON))))),
        "interval_analyzed_text_top10": _search(Q.Interval(
            ("analyzed_text", f"{T_COMMON} {T_COMMON2}", 1, True))),
        "interval_block_nested_top10": _search(Q.Interval(
            ("phrase", (("orterms", (T_COMMON, SYN_A)),
                        ("term", T_COMMON2))))),
        "bm25_after_merge_top10": _q_merged_search,
        "bm25_incremental_top10": _q_incremental_search,
        # --- index tables / invariants (SURVEY.md §2.2) ---
        "segment_lineage": _q_segment_lineage,
        "term_stats": _q_term_stats,
        "term_stats_salted": _q_term_stats_salted,
        "field_stats": _q_field_stats,
        "doc_norms": _q_doc_norms,
        "content_sha256": _q_sha256,
        # --- training-data pipeline ---
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_minhash_lsh": _q_minhash,
        "dedup_cluster_roots": _q_dedup_clusters,
        "bm25_stem_de_top10": _q_stem_de,
        "stem_de_term_stats": _q_stem_de_stats,
        "bm25_keyword_repeat_top10": _q_kr_top10,
        "keyword_repeat_term_stats": _q_kr_stats,
        "bm25_pattern_tokenizer_top10": _q_pattern_tok_top10,
        "pattern_tokenizer_term_stats": _q_pattern_tok_stats,
        "bm25_pattern_replace_top10": _q_pattern_replace_top10,
        "bm25_compound_top10": _q_compound_top10,
        "bm25_html_strip_top10": _q_html_strip_top10,
        "html_strip_term_stats": _q_html_strip_stats,
        "leading_wildcard_query": _q_leading_wildcard,
        "reverse_term_stats": _q_reverse_term_stats,
        "auto_stopword_top10": _q_auto_stopword_top10,
        "bm25_delimited_tf_top10": _q_delimited_tf_top10,
        "delimited_tf_stats": _q_delimited_tf_stats,
        "bm25_keyword_marker_top10": _q_keyword_marker_top10,
        "keyword_marker_term_stats": _q_keyword_marker_stats,
        "bm25_scandinavian_top10": _q_scandinavian_top10,
        "bm25_hyphenated_top10": _q_hyphenated_top10,
        "bm25_phonetic_top10": _q_phonetic_top10,
        "phonetic_term_stats": _q_phonetic_stats,
        "bm25_dmetaphone_top10": _q_dmetaphone_top10,
        "dmetaphone_term_stats": _q_dmetaphone_stats,
        "metaphone_term_stats": _q_metaphone_stats,
        "cologne_term_stats": _q_cologne_stats,
        "dm_soundex_term_stats": _q_dms_stats,
        "bm25_beider_morse_top10": _q_beider_morse_top10,
        "beider_morse_term_stats": _q_beider_morse_stats,
        "bm25_hunspell_top10": _q_hunspell_top10,
        "hunspell_term_stats": _q_hunspell_stats,
        "bm25_polish_top10": _q_stempel_top10,
        "polish_term_stats": _q_stempel_stats,
        "bm25_smartcn_top10": _q_smartcn_top10,
        "smartcn_term_stats": _q_smartcn_stats,
        # round-5: the full ICUTokenizer port (CJ + Thai dictionary
        # break engines, golden-exact vs the compiled reference)
        "bm25_icu_tokenizer_top10": _q_icu_tok_top10,
        "icu_tokenizer_term_stats": _q_icu_tok_stats,
        "bm25_icu_fold_top10": _q_icu_fold_top10,
        "icu_fold_term_stats": _q_icu_fold_stats,
        "protected_truncate_stats": _q_protected_truncate_stats,
        "bm25_url_token_top10": _q_url_email_top10,
        "url_email_term_stats": _q_url_email_stats,
        "url_extract_stats": _q_url_extract_stats,
        "expression_rescore_top10": _q_expression_rescore,
        "compound_term_stats": _q_compound_stats,
        "bm25_capture_camel_top10": _q_capture_top10,
        "capture_term_stats": _q_capture_stats,
        "bm25_elision_fr_top10": _q_elision_fr,
        "elision_fr_term_stats": _q_elision_fr_stats,
        "combined_field_top10": _q_combined_field,
        "bm25_cjk_top10": _q_cjk,
        "cjk_term_stats": _q_cjk_stats,
        "wdgf_identifiers_top10": _q_wdgf,
        "wdgf_term_stats": _q_wdgf_stats,
        "bm25_greek_top10": _q_greek,
        "greek_term_stats": _q_greek_stats,
        "bm25_snowball_ru_top10": _q_snowball_ru,
        "snowball_ru_term_stats": _q_snowball_ru_stats,
        "ngram_filter_top10": _q_ngram_filter,
        "edge_ngram_prefix_top10": _q_edge_ngram,
        "path_prefix_top10": _q_path_prefix,
        "path_components_stats": _q_path_stats,
        "dedup_simhash": _q_simhash,
        "dedup_simhash_pairs": _q_simhash_pairs,
        "text_token_count": _q_token_count,
        "text_quality": _q_quality,
        "text_lang_id": _q_lang_id,
        "text_fingerprint": _q_fingerprint,
        "fingerprint_token": _q_fingerprint_token,
        "embed_cosine_topk": _q_cosine_topk,
        "embed_lsh_topk": _q_lsh_topk,
        "embed_hnsw_topk": _q_hnsw_topk,
        "embed_ivf_topk": _q_ivf_topk,
        "embed_ivf_full_topk": _q_ivf_full_topk,
        "knn_filtered_topk": _q_knn_filtered,
        "dedup_embed_cosine": _q_embed_near_dup,
        "multimodal_meta": _q_multimodal_meta,
        "multimodal_features": _q_multimodal_features,
    }



_PRIORITY = [
    # Round-5 rotation (VERDICT r4 #1): the driver caps CORRECTNESS at 50
    # entries, so ordering IS coverage. Head block: 48 never-driver-checked
    # entries (analyzer families, classification, expressions, similarity
    # SPI, grouping/DV-set, suggest singletons) + 2 slots for the round-5
    # composite-span-repeat / multiphrase-repeat entries inserted at the
    # very top when implemented. None of the head-50 was green in r04, so
    # the never-checked backlog drops 88 -> ~40. The r2-stale core
    # (span/boolean/WAND on r3/r4-rewritten kernels) follows immediately
    # after the never-checked block; its independent record is the
    # compiled-Lucene differential + the full local sweep.
    # --- never driver-checked: head (under the 50-row cap) ---
    "span_or_repeat_top10",
    "bm25_multiphrase_repeat_top10",
    "bm25_icu_tokenizer_top10",
    "icu_tokenizer_term_stats",
    "dedup_cluster_roots",
    # round-5 session-2 additions: the new spatial3d module (never checked
    # anywhere before this round; golden-pinned vs the compiled reference)
    "geo3d_circle_docs",
    "geo3d_bbox_docs",
    "geo3d_polygon_docs",
    "geo3d_path_docs",
    "geo3d_exact_circle_docs",
    "geo3d_docvalue_top25",
    "geo3d_factory_polygon_docs",
    "geo3d_nearest_top10",
    "expression_rescore_top10",
    "combined_field_top10",
    "bm25_stem_de_top10",
    "bm25_snowball_ru_top10",
    "bm25_hunspell_top10",
    "bm25_smartcn_top10",
    "bm25_cjk_top10",
    "bm25_icu_fold_top10",
    "distinct_values",
    "diversified_topk",
    "doc_values_stats",
    "group_facet_counts",
    "bm25nb_classify_docs",
    "knn_classify_text",
    "perceptron_assign",
    "confusion_nb_metrics",
    "nb_document_classify",
    "knn_document_top",
    "dataset_split_assign",
    "ib_ll_term_top10",
    "axiomatic_f2log_term_top10",
    "indri_term_top10",
    "indri_and_top10",
    "multi_sim_term_top10",
    "dv_numbers_in_set",
    "dv_terms_in_set",
    "facet_sum_value_source",
    "range_field_relations",
    "multi_range_query",
    "bm25_filter_top10",
    "leading_wildcard_query",
    "spell_scored_suggest",
    "fuzzy_like_this_top10",
    "blended_infix_suggest",
    "phrase_wildcard_top10",
    "auto_stopword_top10",
    "payloads_for_query",
    "fingerprint_token",
    "bm25_elision_fr_top10",
    "bm25_greek_top10",
    "bm25_url_token_top10",
    "bm25_html_strip_top10",
    "bm25_phonetic_top10",
    "bm25_dmetaphone_top10",
    "bm25_beider_morse_top10",
    "bm25_polish_top10",
    "bm25_pattern_tokenizer_top10",
    # --- never driver-checked: overflow (beyond the cap) ---
    "stem_de_term_stats",
    "elision_fr_term_stats",
    "cjk_term_stats",
    "ngram_filter_top10",
    "edge_ngram_prefix_top10",
    "path_prefix_top10",
    "path_components_stats",
    "wdgf_identifiers_top10",
    "wdgf_term_stats",
    "greek_term_stats",
    "snowball_ru_term_stats",
    "url_email_term_stats",
    "url_extract_stats",
    "html_strip_term_stats",
    "phonetic_term_stats",
    "dmetaphone_term_stats",
    "metaphone_term_stats",
    "cologne_term_stats",
    "dm_soundex_term_stats",
    "beider_morse_term_stats",
    "hunspell_term_stats",
    "polish_term_stats",
    "smartcn_term_stats",
    "icu_fold_term_stats",
    "reverse_term_stats",
    "bm25_delimited_tf_top10",
    "delimited_tf_stats",
    "bm25_keyword_marker_top10",
    "keyword_marker_term_stats",
    "bm25_scandinavian_top10",
    "bm25_hyphenated_top10",
    "protected_truncate_stats",
    "bm25_keyword_repeat_top10",
    "keyword_repeat_term_stats",
    "pattern_tokenizer_term_stats",
    "bm25_pattern_replace_top10",
    "bm25_compound_top10",
    "compound_term_stats",
    "bm25_capture_camel_top10",
    "capture_term_stats",
    # --- last driver-green in r2 ---
    "bm25_term_top10",
    "bm25_boost_top10",
    "bm25_and_top10",
    "bm25_and_bmw_top10",
    "bm25_or_top10",
    "bm25_or_bmw_top10",
    "bm25_or3_top10",
    "bm25_not_top10",
    "bm25_synonym_top10",
    "bm25_phrase_top10",
    "bm25_sloppy_phrase_top10",
    "bm25_sloppy3_top10",
    "bm25_dismax_top10",
    "tfidf_term_top10",
    "bm25_prefix_scored_top10",
    "bm25_msm2_top10",
    "function_score_top10",
    "span_near_top10",
    "span_or_top10",
    "span_not_top10",
    "span_first_top10",
    "span_containing_top10",
    "span_within_top10",
    "bm25_term_rare_top10",
    "batch_search",
    "search_after_page2",
    "total_hits_count",
    "prefix_query",
    "wildcard_query",
    "fuzzy_query",
    "block_join_topk",
    "surround_topk",
    "highlight_top5",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "text_token_count",
    "text_quality",
    "text_lang_id",
    "text_fingerprint",
    "embed_cosine_topk",
    "embed_lsh_topk",
    "embed_ivf_topk",
    "embed_ivf_full_topk",
    "knn_filtered_topk",
    "dedup_embed_cosine",
    "multimodal_meta",
    "multimodal_features",
    # --- last driver-green in r3 ---
    "regexp_query",
    "high_freq_terms",
    "bm25_shingle_top10",
    "bm25_common_grams_top10",
    "dfi_term_top10",
    "boolean_term_top10",
    "fuzzy_suggest_top10",
    "free_text_suggest_top10",
    "term_in_set",
    "range_query",
    "term_range_query",
    "facet_counts",
    "sampled_facet_counts",
    "all_groups_count",
    "search_quality",
    "complex_phrase_top10",
    "sweetspot_term_top10",
    "word_break_suggest",
    "term_automaton_top10",
    "infix_suggest",
    "bm25_repeat_sloppy_top10",
    "payload_check_top10",
    "span_posrange_top10",
    "range_facet_counts",
    "drill_sideways",
    "grouped_topk",
    "distance_feature_top10",
    "rescore_top10",
    "nb_classify_docs",
    "knn_classify_doc0",
    "sort_by_field",
    "query_join",
    "lmd_term_top10",
    "bm25_deleted_top10",
    "monitor_matches",
    "dfr_term_top10",
    "bm25_fuzzy_blended_top10",
    "suggest_prefix",
    "spell_suggest",
    "mlt_top10",
    "interval_ordered_top10",
    "interval_maxgaps_top10",
    "bm25_after_merge_top10",
    "bm25_incremental_top10",
    "segment_lineage",
    "term_stats",
    "term_stats_salted",
    "field_stats",
    "doc_norms",
    "content_sha256",
    # --- last driver-green in r4 ---
    "bm25_synonym_boosted_top10",
    "bm25_multiphrase_top10",
    "bm25_gap_phrase_top10",
    "bm25_prefix_multiphrase_top10",
    "bm25_gap_sloppy_top10",
    "covering_top10",
    "decontamination_flags",
    "shard_assignment",
    "mixture_sample",
    "repetition_stats",
    "span_not_window_top10",
    "facet_path_counts",
    "sorted_index_topk",
    "payload_score_top10",
    "docvalues_updated",
    "function_score_updated_top10",
    "feature_saturation_top10",
    "feature_sigmoid_top10",
    "bm25_feature_log_top10",
    "geo_box_count",
    "geo_nearest_top10",
    "geo_distance_count",
    "geo_polygon_docs",
    "drill_down_path",
    "block_join_children_topk",
    "assoc_facet_sum",
    "simple_parse_top10",
    "interval_unordered_top10",
    "interval_containing_top10",
    "bm25_synonym_indexed_top10",
    "common_terms_top10",
    "interval_prefix_top10",
    "interval_or_ordered_top10",
    "interval_atleast_top10",
    "interval_before_top10",
    "interval_after_top10",
    "interval_within_top10",
    "interval_nested_ordered_top10",
    "interval_nested_unordered_top10",
    "interval_analyzed_text_top10",
    "interval_block_nested_top10",
    "embed_hnsw_topk",
    "interval_repeat_top10",
    "span_repeat_top10",
    "bm25_repeat_mixed_top10",
    "bm25_soft_deleted_top10",
    "flexible_parse_top10",
    "points_range_top10",
    "xml_parse_top10",
    "highlight_tv_top5",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _all_queries()
    out = {k: q[k] for k in _PRIORITY}
    out.update({k: v for k, v in q.items() if k not in out})
    return out

def oracle_sql() -> dict[str, str]:
    return {
        "bm25_term_top10": _term_topk_sql(T_COMMON),
        "bm25_term_rare_top10": _term_topk_sql(T_RARE),
        "bm25_boost_top10": _term_topk_sql(T_COMMON, boost=2.0),
        "bm25_and_top10": _and2_sql(T_COMMON, T_COMMON2),
        "bm25_and_bmw_top10": _and2_sql(T_COMMON, T_COMMON2),
        "bm25_or_top10": _or2_sql(T_A, T_B),
        "bm25_or_bmw_top10": _or2_sql(T_A, T_B),
        "bm25_or3_top10": _or3_sql(T_COMMON, T_COMMON2, T_THIRD),
        "bm25_not_top10": _not_sql(T_COMMON, T_RARE),
        "bm25_filter_top10": _filter_sql(T_COMMON, T_COMMON2),
        "bm25_synonym_top10": _synonym_sql(SYN_A, SYN_B),
        "bm25_synonym_boosted_top10": _synonym_boosted_sql(
            ((SYN_A, 1.0), (SYN_B, 0.4))),
        "bm25_phrase_top10": _phrase_sql(PH_A, PH_B),
        "bm25_sloppy_phrase_top10": _lucene_sloppy_sql((T_COMMON, T_COMMON2), 3),
        "bm25_sloppy3_top10": _lucene_sloppy_sql(
            (T_COMMON, T_COMMON2, T_THIRD), 4),
        "bm25_dismax_top10": _dismax_sql(T_COMMON, T_COMMON2),
        "bm25_multiphrase_top10": _multi_phrase_sql(
            ((T_COMMON, SYN_A), (T_COMMON2,))),
        "bm25_multiphrase_repeat_top10": _mtp_hidden_sloppy_sql(
            T_COMMON, T_COMMON2, 3),
        "bm25_gap_phrase_top10": _gap_phrase_sql(
            (T_COMMON, T_COMMON2), (0, 2)),
        "bm25_prefix_multiphrase_top10": _multi_phrase_pattern_sql(
            ("term LIKE 'du%'", f"term = '{T_RARE}'")),
        "phrase_wildcard_top10": _multi_phrase_pattern_sql(
            ("term LIKE 's____'", f"term = '{T_COMMON}'")),
        "bm25_gap_sloppy_top10": _lucene_sloppy_sql(
            (T_COMMON, T_COMMON2), 2, positions=(0, 2)),
        "covering_top10": _covering_sql(
            (T_COMMON, T_COMMON2, T_THIRD, T_RARE)),
        "span_near_top10": _span_near_sql((T_COMMON, T_COMMON2), 3),
        # duplicate clause terms, single common term, k=2 (the batched
        # multiset kernel): every pop of position p emits width 1 (the
        # other tied cell still AT p -> 1/2), then the second copy pops
        # with the first advanced to lead(p): width = lead - p + 1,
        # matching when width - 2 <= slop; ONE copy at the doc's last
        # position (first clause-final pop ends the walk); idf ONCE
        # (SpanWeight termStates Map)
        "span_repeat_top10": _PRELUDE + f""",
rp AS (SELECT doc_id, pos,
              lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       FROM tok WHERE term = '{T_COMMON}'),
rcontrib AS (
  SELECT doc_id, pos, 0 AS cp, CAST(0.5 AS DOUBLE) AS wgt FROM rp
  UNION ALL
  SELECT doc_id, pos, 1 AS cp,
         CAST(1.0 AS DOUBLE) / (1 + (nxt - pos + 1)) AS wgt
  FROM rp WHERE nxt IS NOT NULL AND (nxt - pos + 1) - 2 <= 3),
spf AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(wgt ORDER BY pos, cp)),
          (x, y) -> CAST(CAST(x AS DOUBLE) + y AS FLOAT)) AS freq
        FROM rcontrib GROUP BY 1)""" + _span_score_sql("spf", (T_COMMON,), 10),
        # SpanOr(term, duplicate-term near): the near's multiset-kernel
        # emissions (first pop (p, p+1, w=1) always; second pop
        # (p, nxt+1, w=nxt-p+1) when w - 2 <= slop — same closed form as
        # span_repeat_top10) merged with the term's width-0 spans in
        # (start, end) order; idf once per DISTINCT term
        "span_or_repeat_top10": _PRELUDE + f""",
rp AS (SELECT doc_id, pos,
              lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       FROM tok WHERE term = '{T_COMMON}'),
rsp AS (SELECT doc_id, pos AS l, pos AS r, CAST(0.5 AS DOUBLE) AS wgt
        FROM rp
        UNION ALL
        SELECT doc_id, pos AS l, nxt AS r,
               CAST(1.0 AS DOUBLE) / (1 + (nxt - pos + 1)) AS wgt
        FROM rp WHERE nxt IS NOT NULL AND (nxt - pos + 1) - 2 <= 3),
allsp AS (SELECT doc_id, pos AS l, pos AS r, CAST(1.0 AS DOUBLE) AS wgt
          FROM tok WHERE term = '{T_THIRD}'
          UNION ALL SELECT doc_id, l, r, wgt FROM rsp),
orf AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(wgt ORDER BY l, r)),
          (x, y) -> CAST(CAST(x AS DOUBLE) + y AS FLOAT)) AS freq
        FROM allsp GROUP BY 1)"""
            + _span_score_sql("orf", (T_THIRD, T_COMMON), 10),
        "span_or_top10": _span_or_sql(T_COMMON, (T_A, T_B), 3),
        "span_not_top10": _span_not_sql((T_COMMON, T_COMMON2), 3, T_THIRD),
        "span_first_top10": _span_first_sql(T_COMMON, 20),
        "span_containing_top10": _span_containing_sql(
            (T_COMMON, T_COMMON2), 4, T_THIRD),
        "surround_topk": _span_near_sql((T_COMMON, T_THIRD), 2),
        "simple_parse_top10": _not_sql(T_COMMON, T_RARE),
        # ReqOptSumScorer: MUST's match set; SHOULD's score added where
        # both match (double add, one float32 round — engine-identical)
        "points_range_top10": _PRELUDE + ", "
        + _tscore_cte("ts", T_COMMON) + f""",
hit AS (
  SELECT DISTINCT doc_id FROM tok WHERE term = '{T_RARE}'
),
resolved AS (
  SELECT d.doc_id,
         CASE WHEN h.doc_id IS NOT NULL THEN 5000 ELSE d.n_chars END
           AS value
  FROM documents d LEFT JOIN hit h ON h.doc_id = d.doc_id
),
pts AS (
  SELECT t.doc_id,
         CAST(CAST(t.s AS DOUBLE) + CAST(1.0 AS DOUBLE) AS FLOAT) AS s
  FROM ts t JOIN resolved r ON r.doc_id = t.doc_id
  WHERE r.value BETWEEN 100 AND 299
)""" + _topk_sql("pts", 10),
        "flexible_parse_top10": _PRELUDE + ", "
        + _tscore_cte("ta", T_COMMON) + ", "
        + _tscore_cte("tb", T_COMMON2) + """,
reqopt AS (
  SELECT a.doc_id,
         CASE WHEN b.s IS NULL THEN a.s
              ELSE CAST(CAST(a.s AS DOUBLE) + CAST(b.s AS DOUBLE)
                        AS FLOAT) END AS s
  FROM ta a LEFT JOIN tb b ON a.doc_id = b.doc_id
)""" + _topk_sql("reqopt", 10),
        # ReqOpt(must, should) minus mustNot docs
        "xml_parse_top10": _PRELUDE + ", "
        + _tscore_cte("ta", T_COMMON) + ", "
        + _tscore_cte("tb", T_COMMON2) + f""",
reqopt AS (
  SELECT a.doc_id,
         CASE WHEN b.s IS NULL THEN a.s
              ELSE CAST(CAST(a.s AS DOUBLE) + CAST(b.s AS DOUBLE)
                        AS FLOAT) END AS s
  FROM ta a LEFT JOIN tb b ON a.doc_id = b.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM tf n
                    WHERE n.doc_id = a.doc_id AND n.term = '{T_RARE}')
)""" + _topk_sql("reqopt", 10),
        "span_within_top10": _span_within_sql(
            T_THIRD, (T_COMMON, T_COMMON2), 4),
        "highlight_top5": _highlight_sql(T_COMMON, T_COMMON2, k=5, window=6),
        # same oracle: the TV path must produce byte-identical snippets
        "highlight_tv_top5": _highlight_sql(T_COMMON, T_COMMON2,
                                            k=5, window=6),
        "bm25_synonym_indexed_top10": _synonym_indexed_sql(
            T_THIRD, T_COMMON, T_COMMON),
        "bm25_shingle_top10": _shingle_indexed_sql("part", "filter"),
        "bm25_common_grams_top10": _common_grams_sql("the", "the_agg"),
        "common_terms_top10": _common_terms_sql(
            (T_COMMON, T_COMMON2, T_RARE), 0.5),
        "interval_ordered_top10": _interval_ordered_exact3_sql(
            T_COMMON, T_COMMON2, T_THIRD),
        "interval_maxgaps_top10": _interval_ordered_sql(
            (T_COMMON, T_COMMON2), maxgaps=2),
        "interval_unordered_top10": _interval_unordered_sql(
            (T_COMMON, T_THIRD)),
        "interval_containing_top10": _interval_containing_sql(
            (T_COMMON, T_COMMON2), T_THIRD),
        "interval_prefix_top10": _interval_ordered_sql(
            (("prefix", "sl"), T_COMMON)),
        "interval_or_ordered_top10": _interval_ordered_sql(
            ((T_A, T_B), T_COMMON)),
        "interval_atleast_top10": _interval_atleast_sql(
            (T_COMMON, T_COMMON2, T_THIRD), 2),
        "interval_before_top10": _interval_before_after_sql(T_A, T_COMMON),
        "interval_after_top10": _interval_before_after_sql(
            T_A, T_COMMON, after=True),
        "interval_within_top10": _interval_within_sql(T_A, 3, T_COMMON),
        # ORDERED(ORDERED(a,b),c) flattens to ORDERED(a,b,c)
        # (reference OrderedIntervalsSource.build) — same exact walk
        "interval_nested_ordered_top10": _interval_ordered_exact3_sql(
            T_COMMON, T_COMMON2, T_THIRD),
        "interval_nested_unordered_top10": _interval_nested_sql(
            T_COMMON, T_COMMON2, T_THIRD, ordered=False),
        "interval_repeat_top10": _interval_repeat_sql(T_COMMON, 2),
        "interval_analyzed_text_top10": _interval_ordered_sql(
            (T_COMMON, T_COMMON2), maxgaps=1),
        "interval_block_nested_top10": _interval_block_or_sql(
            (T_COMMON, SYN_A), T_COMMON2),
        "tfidf_term_top10": _TFIDF_SQL,
        "search_quality": "WITH results AS (" + " UNION ALL ".join(
            f"SELECT '{qid}' AS query_id, doc_id, rank FROM ({sql})"
            for qid, sql in [
                ("bq_term", _term_topk_sql(T_COMMON)),
                ("bq_or", _or2_sql(T_A, T_B)),
                ("bq_and", _and2_sql(T_COMMON, T_COMMON2)),
                ("bq_rare", _term_topk_sql(T_RARE)),
            ]) + f"""),
jmap(query_id, jterm) AS (VALUES
  ('bq_term', '{T_COMMON2}'), ('bq_or', '{T_A}'),
  ('bq_and', '{T_RARE}'), ('bq_rare', '{SYN_A}')),
tdocs AS (SELECT DISTINCT doc_id, term FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents)),
judg AS (SELECT m.query_id, t.doc_id
         FROM jmap m JOIN tdocs t ON t.term = m.jterm),
flags AS (SELECT r.query_id, r.rank,
                 CASE WHEN j.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
          FROM results r LEFT JOIN judg j
            ON j.query_id = r.query_id AND j.doc_id = r.doc_id),
runs AS (SELECT query_id, rank, rel,
                sum(rel) OVER (PARTITION BY query_id ORDER BY rank)
                  AS good
         FROM flags),
tot AS (SELECT query_id, count(*) AS maxg FROM judg GROUP BY 1),
perq AS (SELECT query_id,
                sum(rel) AS found,
                sum(CASE WHEN rel = 1
                         THEN CAST(good AS DOUBLE) / rank END) AS psum,
                min(CASE WHEN rel = 1 AND rank <= 5 THEN rank END)
                  AS first5,
                max(CASE WHEN rank <= 1 THEN good END) AS g1,
                max(CASE WHEN rank <= 5 THEN good END) AS g5,
                max(CASE WHEN rank <= 10 THEN good END) AS g10
         FROM runs GROUP BY 1)
SELECT p.query_id,
       CAST(floor(CAST(p.g1 AS DOUBLE) / 1 * 1000000) AS BIGINT)
         AS p_at_1_q6,
       CAST(floor(CAST(p.g5 AS DOUBLE) / 5 * 1000000) AS BIGINT)
         AS p_at_5_q6,
       CAST(floor(CAST(p.g10 AS DOUBLE) / 10 * 1000000) AS BIGINT)
         AS p_at_10_q6,
       CAST(floor(coalesce(1.0 / p.first5, 0) * 1000000) AS BIGINT)
         AS mrr_q6,
       CAST(floor(CAST(p.found AS DOUBLE) / t.maxg * 1000000) AS BIGINT)
         AS recall_q6,
       CAST(floor(coalesce(p.psum, 0) / t.maxg * 1000000) AS BIGINT)
         AS avp_q6
FROM perq p JOIN tot t ON t.query_id = p.query_id""",
        "batch_search": " UNION ALL ".join(
            f"SELECT '{qid}' AS query_id, * FROM ({sql})"
            for qid, sql in [
                ("bq_term", _term_topk_sql(T_COMMON)),
                ("bq_or", _or2_sql(T_A, T_B)),
                ("bq_and", _and2_sql(T_COMMON, T_COMMON2)),
                ("bq_rare", _term_topk_sql(T_RARE)),
            ]),
        "function_score_top10": _PRELUDE + ", " + _tscore_cte("ts", T_COMMON) + """
SELECT doc_id, CAST(rnk AS INT) AS rank,
       CAST(floor(fscore * 10000) AS BIGINT) AS fscore_q4
FROM (SELECT t.doc_id,
             CAST(t.s AS DOUBLE)
                   + CAST(0.1 AS DOUBLE) * ln(1 + CAST(d.n_chars AS DOUBLE))
                   AS fscore,
             row_number() OVER (
               ORDER BY CAST(t.s AS DOUBLE)
                        + CAST(0.1 AS DOUBLE) * ln(1 + CAST(d.n_chars AS DOUBLE))
                        DESC, t.doc_id ASC) AS rnk
      FROM ts t JOIN documents d ON d.doc_id = t.doc_id)
WHERE rnk <= 10""",
        "docvalues_updated": f"""
WITH hit AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  WHERE term = '{T_RARE}'
)
SELECT d.doc_id,
       CAST(CASE WHEN h.doc_id IS NOT NULL THEN 5000 ELSE d.n_chars END
            AS BIGINT) AS dv
FROM documents d LEFT JOIN hit h ON h.doc_id = d.doc_id""",
        "function_score_updated_top10":
            _PRELUDE + ", " + _tscore_cte("ts", T_COMMON) + f""",
hit AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{T_RARE}'),
dv AS (
  SELECT d.doc_id,
         CAST(CASE WHEN h.doc_id IS NOT NULL THEN 5000 ELSE d.n_chars END
              AS DOUBLE) AS v
  FROM documents d LEFT JOIN hit h ON h.doc_id = d.doc_id
)
SELECT doc_id, CAST(rnk AS INT) AS rank,
       CAST(floor(fscore * 10000) AS BIGINT) AS fscore_q4
FROM (SELECT t.doc_id,
             CAST(t.s AS DOUBLE) + CAST(0.1 AS DOUBLE) * ln(1 + dv.v)
                   AS fscore,
             row_number() OVER (
               ORDER BY CAST(t.s AS DOUBLE) + CAST(0.1 AS DOUBLE)
                        * ln(1 + dv.v) DESC, t.doc_id ASC) AS rnk
      FROM ts t JOIN dv ON dv.doc_id = t.doc_id)
WHERE rnk <= 10""",
        "feature_saturation_top10": "WITH " + _FEAT_BODY + """,
fsat AS (
  SELECT doc_id,
         CAST(1.5 AS FLOAT)
           * (CAST(1 AS FLOAT)
              - CAST(8 AS FLOAT) / (f + CAST(8 AS FLOAT))) AS s
  FROM feat
)""" + _topk_sql("fsat", 10),
        "feature_sigmoid_top10": "WITH " + _FEAT_BODY + """,
fsig AS (
  SELECT doc_id,
         CAST(CAST(CAST(1.2 AS FLOAT) AS DOUBLE)
              * (1.0 - (CAST(CAST(10 AS FLOAT) AS DOUBLE)
                        * CAST(CAST(10 AS FLOAT) AS DOUBLE))
                       / (CAST(f AS DOUBLE) * CAST(f AS DOUBLE)
                          + CAST(CAST(10 AS FLOAT) AS DOUBLE)
                            * CAST(CAST(10 AS FLOAT) AS DOUBLE)))
              AS FLOAT) AS s
  FROM feat
)""" + _topk_sql("fsig", 10),
        "bm25_feature_log_top10":
            _PRELUDE + ", " + _tscore_cte("ts", T_COMMON)
            + ", " + _FEAT_BODY + """,
flog AS (
  SELECT doc_id,
         CAST(CAST(CAST(2.0 AS FLOAT) AS DOUBLE)
              * ln(CAST(CAST(0.5 AS FLOAT) + f AS DOUBLE)) AS FLOAT) AS s
  FROM feat
),
fcomb AS (
  SELECT t.doc_id,
         CAST(CAST(t.s AS DOUBLE)
              + CAST(COALESCE(l.s, CAST(0 AS FLOAT)) AS DOUBLE)
              AS FLOAT) AS s
  FROM ts t LEFT JOIN flog l ON l.doc_id = t.doc_id
)""" + _topk_sql("fcomb", 10),
        "distance_feature_top10": f"""
WITH hit AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  WHERE term = '{T_RARE}'
),
dv AS (
  SELECT d.doc_id,
         CAST(CASE WHEN h.doc_id IS NOT NULL THEN 5000 ELSE d.n_chars END
              AS BIGINT) AS v
  FROM documents d LEFT JOIN hit h ON h.doc_id = d.doc_id
),
dfq AS (
  SELECT doc_id,
         CAST(CAST(1.7999999523162842 AS DOUBLE)
              * (CAST(500 AS DOUBLE)
                 / (CAST(500 AS DOUBLE)
                    + CAST(greatest(v, 2500) - least(v, 2500) AS DOUBLE)))
              AS FLOAT) AS s
  FROM dv
)""" + _topk_sql("dfq", 10),
        "span_not_window_top10": _PRELUDE + ","
        + _span_windows_cte((T_COMMON, T_THIRD), 2) + f""",
keptw AS (SELECT w.doc_id, w.l, w.r, w.ml FROM wins w
          WHERE NOT EXISTS (SELECT 1 FROM tok e
                            WHERE e.doc_id = w.doc_id
                              AND e.term = '{T_RARE}'
                              AND e.pos BETWEEN w.l - 2 AND w.r + 2)),
keptwf AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE) / (1 + ml) ORDER BY l, r)),
          (a, b) -> CAST(CAST(a AS DOUBLE) + b AS FLOAT)) AS freq
           FROM keptw GROUP BY 1)"""
        + _span_score_sql("keptwf", (T_COMMON, T_THIRD), 10),
        "repetition_stats": """
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
              FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN array_to_string(t[i+1:i+3], ' ')
              ELSE array_to_string(t, ' ') END AS g
  FROM toks, unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS x(i)
),
per AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
SELECT doc_id,
       CAST(floor(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                  / sum(c) * 1000000) AS BIGINT) AS dup_q6,
       CAST(floor(CAST(max(c) AS DOUBLE) / sum(c) * 1000000) AS BIGINT)
         AS top_q6
FROM per GROUP BY 1""",
        "mixture_sample": """
WITH toks AS (SELECT lang, sum(len(string_split(text, ' '))) AS t
              FROM documents GROUP BY 1),
tstar AS (SELECT min(t / 0.2) AS ts FROM toks),
rates AS (SELECT lang,
                 0.2 * (SELECT ts FROM tstar) / t AS rate
          FROM toks),
cuts AS (SELECT lang,
                CASE WHEN rate >= 1.0 THEN 'g'
                     ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296)
                                           AS BIGINT))), 8, '0') END AS cut
         FROM rates)
SELECT d.doc_id, d.lang
FROM documents d JOIN cuts c ON c.lang = d.lang
WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < c.cut""",
        "shard_assignment": """
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n
           FROM documents),
o AS (SELECT doc_id,
             coalesce(sum(n) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
      FROM t)
SELECT doc_id, CAST(off AS BIGINT) AS token_offset,
       CAST(off // 5000 AS BIGINT) AS shard_id
FROM o""",
        "decontamination_flags": """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 8
              THEN array_to_string(t[i+1:i+8], ' ')
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks,
       unnest(range(0, greatest(len(t) - 8, 0) + 1)) AS x(i)
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
bsh AS (SELECT DISTINCT shingle FROM shd WHERE doc_id < 20)
SELECT s.doc_id, CAST(count(DISTINCT s.shingle) AS BIGINT) AS hits
FROM shd s JOIN bsh b ON b.shingle = s.shingle
GROUP BY 1""",
        "nb_classify_docs": _PRELUDE + """,
sdf AS (SELECT CAST(sum(df) AS DOUBLE) AS s FROM dfs),
avgu AS (SELECT s / CAST((SELECT dc FROM avgs) AS DOUBLE) AS au FROM sdf),
cls AS (SELECT doc_id, lang AS cls FROM documents),
cstat AS (SELECT cls, count(*) AS df_c FROM cls GROUP BY cls),
dwcnt AS (SELECT count(*) AS n FROM cls),
inp AS (SELECT doc_id AS input_id, term FROM tok WHERE doc_id < 20),
itf AS (SELECT input_id, term, count(*) AS tf FROM inp GROUP BY 1, 2),
intok AS (SELECT input_id, count(*) AS n_tokens FROM inp GROUP BY 1),
chits AS (
  SELECT t.term, c.cls, count(DISTINCT t.doc_id) AS hits
  FROM tok t JOIN cls c ON c.doc_id = t.doc_id
  WHERE t.term IN (SELECT DISTINCT term FROM inp)
  GROUP BY 1, 2
),
num AS (
  SELECT f.input_id, h.cls,
         sum(CAST(f.tf AS DOUBLE)
             * ln(CAST(h.hits AS DOUBLE) + CAST(1 AS DOUBLE))) AS numsum
  FROM itf f JOIN chits h ON h.term = f.term GROUP BY 1, 2
),
basec AS (
  SELECT i.input_id, s.cls,
         ln(CAST(s.df_c AS DOUBLE)) - ln(CAST(d.n AS DOUBLE))
         - CAST(i.n_tokens AS DOUBLE)
           * ln((SELECT au FROM avgu) * CAST(s.df_c AS DOUBLE)
                + CAST(d.n AS DOUBLE)) AS b
  FROM intok i CROSS JOIN cstat s CROSS JOIN dwcnt d
),
nbsc AS (
  SELECT b.input_id, b.cls, b.b + COALESCE(n.numsum, 0) AS score
  FROM basec b LEFT JOIN num n
    ON n.input_id = b.input_id AND n.cls = b.cls
),
asg AS (
  SELECT input_id, cls, score,
         row_number() OVER (PARTITION BY input_id
                            ORDER BY score DESC, cls ASC) AS r
  FROM nbsc
)
SELECT input_id, cls, CAST(floor(score * 100) AS BIGINT) AS score_q2
FROM asg WHERE r = 1""",
        "confusion_nb_metrics": _PRELUDE + """,
sdf AS (SELECT CAST(sum(df) AS DOUBLE) AS s FROM dfs),
avgu AS (SELECT s / CAST((SELECT dc FROM avgs) AS DOUBLE) AS au FROM sdf),
cls AS (SELECT doc_id, lang AS cls FROM documents),
cstat AS (SELECT cls, count(*) AS df_c FROM cls GROUP BY cls),
dwcnt AS (SELECT count(*) AS n FROM cls),
inp AS (SELECT doc_id AS input_id, term FROM tok WHERE doc_id < 20),
itf AS (SELECT input_id, term, count(*) AS tf FROM inp GROUP BY 1, 2),
intok AS (SELECT input_id, count(*) AS n_tokens FROM inp GROUP BY 1),
chits AS (
  SELECT t.term, c.cls, count(DISTINCT t.doc_id) AS hits
  FROM tok t JOIN cls c ON c.doc_id = t.doc_id
  WHERE t.term IN (SELECT DISTINCT term FROM inp)
  GROUP BY 1, 2
),
num AS (
  SELECT f.input_id, h.cls,
         sum(CAST(f.tf AS DOUBLE)
             * ln(CAST(h.hits AS DOUBLE) + CAST(1 AS DOUBLE))) AS numsum
  FROM itf f JOIN chits h ON h.term = f.term GROUP BY 1, 2
),
basec AS (
  SELECT i.input_id, s.cls,
         ln(CAST(s.df_c AS DOUBLE)) - ln(CAST(d.n AS DOUBLE))
         - CAST(i.n_tokens AS DOUBLE)
           * ln((SELECT au FROM avgu) * CAST(s.df_c AS DOUBLE)
                + CAST(d.n AS DOUBLE)) AS b
  FROM intok i CROSS JOIN cstat s CROSS JOIN dwcnt d
),
nbsc AS (
  SELECT b.input_id, b.cls, b.b + COALESCE(n.numsum, 0) AS score
  FROM basec b LEFT JOIN num n
    ON n.input_id = b.input_id AND n.cls = b.cls
),
asg AS (
  SELECT input_id, cls, score,
         row_number() OVER (PARTITION BY input_id
                            ORDER BY score DESC, cls ASC) AS r
  FROM nbsc
),
pred AS (SELECT input_id, cls AS predicted FROM asg WHERE r = 1),
act AS (SELECT doc_id AS input_id, lang AS actual FROM documents
        WHERE doc_id < 20),
mat AS (SELECT a.actual, p.predicted, CAST(count(*) AS DOUBLE) AS cnt
        FROM act a JOIN pred p USING (input_id) GROUP BY 1, 2),
rws AS (SELECT actual, sum(cnt) AS row_sum,
        sum(CASE WHEN predicted = actual THEN cnt ELSE 0 END) AS tp
        FROM mat GROUP BY 1),
cols AS (SELECT predicted AS k, sum(cnt) AS col_sum FROM mat GROUP BY 1),
pres AS (SELECT predicted AS k, count(DISTINCT actual) AS n_present
         FROM mat WHERE cnt > 0 GROUP BY predicted),
nr AS (SELECT count(*) AS c FROM rws),
per AS (
  SELECT r.actual, r.tp, r.row_sum, COALESCE(c.col_sum, 0) AS col_sum,
         CAST(n.c - COALESCE(p.n_present, 0) AS DOUBLE) AS tn,
         CASE WHEN r.tp > 0 THEN r.tp / c.col_sum ELSE 0 END AS prec_k,
         CASE WHEN r.row_sum > 0 THEN r.tp / r.row_sum ELSE 0 END AS rec_k
  FROM rws r LEFT JOIN cols c ON c.k = r.actual
  LEFT JOIN pres p ON p.k = r.actual CROSS JOIN nr n
),
agt AS (
  SELECT sum(tp) AS tp, sum(row_sum - tp) AS fn, sum(col_sum) AS tfp,
         sum(tn) AS tn, avg(prec_k) AS p_macro, avg(rec_k) AS r_macro,
         sum(row_sum) AS n_docs
  FROM per
)
SELECT CAST(floor(((tp + tn) / (tfp + fn + tn)) * 1000000) AS BIGINT)
         AS accuracy_q6,
       CAST(floor(p_macro * 1000000) AS BIGINT) AS precision_q6,
       CAST(floor(r_macro * 1000000) AS BIGINT) AS recall_q6,
       CAST(floor(CASE WHEN p_macro > 0 AND r_macro > 0
                       THEN 2 * p_macro * r_macro / (p_macro + r_macro)
                       ELSE 0 END * 1000000) AS BIGINT) AS f1_q6,
       CAST(n_docs AS BIGINT) AS n_docs
FROM agt""",
        "dataset_split_assign": """
WITH cls AS (SELECT doc_id, lang AS cls FROM documents),
sizes AS (SELECT cls, count(*) AS n, min(doc_id) AS frst
          FROM cls GROUP BY 1),
offs AS (SELECT cls, n,
         COALESCE(sum(n) OVER (ORDER BY frst
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS off
         FROM sizes),
seq AS (SELECT c.doc_id, c.cls, o.n,
        o.off + row_number() OVER (PARTITION BY c.cls ORDER BY c.doc_id)
          - 1 AS b
        FROM cls c JOIN offs o USING (cls)),
ev AS (SELECT *, CASE WHEN b % 2 = 0 THEN 1 ELSE 0 END AS even FROM seq),
ec AS (SELECT *,
       COALESCE(sum(even) OVER (PARTITION BY cls ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS ecum
       FROM ev),
t1 AS (SELECT *, CASE WHEN even = 1
                      AND CAST(ecum AS DOUBLE) < n * CAST(0.2 AS DOUBLE)
                      THEN 1 ELSE 0 END AS is_test FROM ec),
f1 AS (SELECT *,
       COALESCE(sum(1 - is_test) OVER (PARTITION BY cls ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS ftcum
       FROM t1)
SELECT doc_id,
       CASE WHEN is_test = 1 THEN 'test'
            WHEN CAST(ftcum AS DOUBLE) < n * CAST(0.1 AS DOUBLE) THEN 'cv'
            ELSE 'train' END AS split
FROM f1 WHERE doc_id < 400""",
        "bm25nb_classify_docs": _PRELUDE + """,
cls AS (SELECT doc_id, lang AS cls FROM documents),
cstat AS (SELECT cls, count(*) AS df_c FROM cls GROUP BY cls),
dwcnt AS (SELECT count(*) AS n FROM cls),
cw AS (
  SELECT s.cls,
         CAST(ln(1 + (d.n - s.df_c + CAST(0.5 AS DOUBLE))
                 / (s.df_c + CAST(0.5 AS DOUBLE))) AS FLOAT) AS w
  FROM cstat s CROSS JOIN dwcnt d
),
cconst AS (
  -- class field: dl = 1, avgdl = 1 -> the float32 norm-cache chain
  -- collapses to 1f/(1.2f*((1f-0.75f)+0.75f*1f/1f)); score = w - w/(1+1*inv)
  SELECT cls,
         CAST(w - w / (CAST(1 AS FLOAT) + CAST(1 AS FLOAT)
              * (CAST(CAST(1.0 AS DOUBLE) AS FLOAT)
                 / (CAST(CAST(1.2 AS DOUBLE) AS FLOAT)
                    * ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT)
                        - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
                       + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
                         * CAST(CAST(1.0 AS DOUBLE) AS FLOAT)
                         / CAST(CAST(1.0 AS DOUBLE) AS FLOAT)))))
              AS DOUBLE) AS const_c
  FROM cw
),
inp AS (SELECT doc_id AS input_id, term FROM tok WHERE doc_id < 20),
itf AS (SELECT input_id, term, count(*) AS tf FROM inp GROUP BY 1, 2),
intok AS (SELECT input_id, count(*) AS n_tokens FROM inp GROUP BY 1),
wts AS (
  SELECT d.term,
         CAST(ln(1 + (a.dc - d.df + CAST(0.5 AS DOUBLE))
                 / (d.df + CAST(0.5 AS DOUBLE))) AS FLOAT) AS w
  FROM dfs d, avgs a
  WHERE d.term IN (SELECT DISTINCT term FROM inp)
),
tsc AS (
  SELECT f.term, f.doc_id,
         (w.w - w.w / (CAST(1 AS FLOAT) + CAST(f.tf AS FLOAT) * c.inv)) AS s
  FROM tf f
  JOIN normcache c ON f.doc_id = c.doc_id
  JOIN wts w ON w.term = f.term
),
best AS (
  SELECT t.term, c.cls, max(t.s) AS best
  FROM tsc t JOIN cls c ON c.doc_id = t.doc_id GROUP BY 1, 2
),
corr AS (
  -- ReqOptSumScorer float32 clause sum, then ln minus the absent-word ln
  SELECT f.input_id, b.cls,
         sum(CAST(f.tf AS DOUBLE)
             * (ln(CAST(k.const_c + CAST(b.best AS DOUBLE) AS FLOAT))
                - ln(k.const_c))) AS corr
  FROM itf f
  JOIN best b ON b.term = f.term
  JOIN cconst k ON k.cls = b.cls
  GROUP BY 1, 2
),
rawsc AS (
  SELECT i.input_id, k.cls,
         ln(k.const_c) * (CAST(i.n_tokens AS DOUBLE) + 1)
         + COALESCE(c.corr, 0) AS raw
  FROM intok i CROSS JOIN cconst k
  LEFT JOIN corr c ON c.input_id = i.input_id AND c.cls = k.cls
),
mx AS (SELECT input_id, max(raw) AS m FROM rawsc GROUP BY 1),
sm AS (SELECT r.input_id, sum(exp(r.raw - m.m)) AS se
       FROM rawsc r JOIN mx m USING (input_id) GROUP BY 1),
soft AS (
  SELECT r.input_id, r.cls, exp(r.raw - (m.m + ln(s.se))) AS p
  FROM rawsc r JOIN mx m USING (input_id) JOIN sm s USING (input_id)
),
asg AS (
  SELECT input_id, cls, p,
         row_number() OVER (PARTITION BY input_id
                            ORDER BY p DESC, cls ASC) AS r
  FROM soft
)
SELECT input_id, cls, CAST(floor(p * 1000) AS BIGINT) AS score_q3
FROM asg WHERE r = 1""",
        "rescore_top10": _PRELUDE + ", " + _tscore_cte("ta", T_COMMON)
        + ", " + _tscore_cte("tb", T_COMMON2) + """,
fp AS (
  SELECT doc_id, s,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
  FROM ta
),
resc AS (
  SELECT f.doc_id,
         CASE WHEN b.doc_id IS NOT NULL
              THEN CAST(CAST(f.s AS DOUBLE)
                        + CAST(2.5 AS DOUBLE) * CAST(b.s AS DOUBLE) AS FLOAT)
              ELSE f.s END AS s
  FROM fp f LEFT JOIN tb b ON b.doc_id = f.doc_id
  WHERE f.r <= 20
)""" + _topk_sql("resc", 10),
        "bm25_prefix_scored_top10": _prefix_scored_sql("du", T_COMMON),
        "bm25_msm2_top10": _msm_sql(T_A, T_B, SYN_A, 2),
        "search_after_page2": _PRELUDE + ", " + _tscore_cte("ts", T_COMMON)
                              + _topk_sql("ts", 10, offset=10),
        "total_hits_count": f"""
SELECT CAST(count(*) AS BIGINT) AS hits FROM (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term IN ('{T_RARE}', '{SYN_A}'))""",
        "prefix_query": """
SELECT DISTINCT doc_id FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term LIKE 'du%'""",
        "wildcard_query": """
SELECT DISTINCT doc_id FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE regexp_matches(term, '^qu.*y$')""",
        "high_freq_terms": """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
s AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf
      FROM t GROUP BY 1)
SELECT term, CAST(df AS BIGINT) AS df, CAST(ttf AS BIGINT) AS ttf
FROM s ORDER BY ttf DESC, term ASC LIMIT 20""",
        "regexp_query": """
SELECT DISTINCT doc_id FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE regexp_matches(term, '^(?:qu.+y|dat[a-z])$')""",
        "fuzzy_query": """
SELECT DISTINCT doc_id FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE levenshtein(term, 'dta') <= 1""",
        "term_in_set": f"""
SELECT DISTINCT doc_id FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term IN ('{T_A}', '{T_B}')""",
        "range_query": """
SELECT doc_id FROM documents WHERE n_chars BETWEEN 100 AND 300""",
        "facet_counts": f"""
SELECT d.lang AS lang, CAST(count(*) AS BIGINT) AS cnt
FROM documents d
WHERE EXISTS (SELECT 1 FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents) t
      WHERE t.doc_id = d.doc_id AND t.term = '{T_RARE}')
GROUP BY 1""",
        "group_facet_counts": f"""
WITH m AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents) t
  WHERE term = '{T_RARE}'
),
p AS (SELECT DISTINCT d.lang AS g, d.source AS facet
      FROM documents d JOIN m ON d.doc_id = m.doc_id
      WHERE d.source IS NOT NULL),
c AS (SELECT facet, count(*) AS cnt FROM p GROUP BY 1
      HAVING count(*) >= 1)
SELECT facet, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank
FROM (SELECT facet, cnt,
             row_number() OVER (ORDER BY cnt DESC, facet ASC) AS rank
      FROM c)
WHERE rank <= 10""",
        "all_groups_count": f"""
SELECT CAST(count(DISTINCT d.lang) AS BIGINT) AS n_groups
FROM documents d
WHERE EXISTS (SELECT 1 FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents) t
      WHERE t.doc_id = d.doc_id AND t.term = '{T_COMMON}')""",
        "sampled_facet_counts": f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents)
  WHERE term = '{T_COMMON}'
),
samp AS (
  SELECT doc_id FROM matched
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        < '{format(int(0.5 * 16**8), "08x")}'
),
cnts AS (
  SELECT d.lang AS lang, CAST(count(*) AS BIGINT) AS sampled_cnt
  FROM samp s JOIN documents d ON d.doc_id = s.doc_id
  GROUP BY 1
)
SELECT lang, sampled_cnt,
       CAST(floor(CAST(sampled_cnt AS DOUBLE)
                  / (CAST((SELECT count(*) FROM samp) AS DOUBLE)
                     / CAST((SELECT count(*) FROM matched) AS DOUBLE))
                  * 1000000) AS BIGINT) AS est_q6
FROM cnts""",
        "payload_score_top10": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
pagg AS (SELECT doc_id,
                CAST(sum((doc_id + pos) % 7 * 0.5) AS FLOAT) AS s
         FROM tok WHERE term = '{T_COMMON}' GROUP BY 1)""" + _topk_sql("pagg"),
        "payload_check_top10": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
lut(v) AS (VALUES {{LUT}}),
stats AS (SELECT count(*) AS dc, sum(dl) AS sttf FROM doclen),
avgs AS (SELECT CAST(CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS FLOAT)
                  AS avgdl, dc FROM stats),
normcache AS (
  SELECT d.doc_id,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT) - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM doclen d, avgs a
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfs AS (SELECT term, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY 1),
pcf AS (
  SELECT a.doc_id, CAST(count(*) AS DOUBLE) AS freq
  FROM tok a JOIN tok b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{T_COMMON}' AND b.term = '{T_COMMON2}'
    AND (a.doc_id + a.pos) % 7 * 0.5 = 1.5
  GROUP BY 1)""".replace("{LUT}", _LUT_V)
        + _span_score_sql("pcf", (T_COMMON, T_COMMON2), 10),
        "geo_box_count": _geo_box_sql(),
        "geo_nearest_top10": _geo_nearest_sql(),
        "geo_distance_count": _geo_distance_sql(),
        "geo_polygon_docs": _geo_polygon_sql(),
        "geo3d_circle_docs": _geo3d_circle_sql(),
        "geo3d_bbox_docs": _geo3d_bbox_sql(),
        "geo3d_polygon_docs": _geo3d_polygon_sql(),
        "geo3d_path_docs": _geo3d_path_sql(),
        "geo3d_exact_circle_docs": _geo3d_exact_circle_sql(),
        "geo3d_docvalue_top25": _geo3d_docvalue_sql(),
        "geo3d_factory_polygon_docs": _geo3d_factory_polygon_sql(),
        "geo3d_nearest_top10": _geo3d_nearest_sql(),
        "sorted_index_topk": """
SELECT doc_id, CAST(n_chars AS INT) AS n_chars, CAST(rnk AS INT) AS rank
FROM (SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rnk
      FROM documents)
WHERE rnk <= 10""",
        "facet_path_counts": """
SELECT p AS path, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT array_to_string(
           list_slice(string_split(d.source || '/' || d.lang, '/'), 1, x.dd),
           '/') AS p
  FROM documents d,
       unnest(range(1, len(string_split(d.source || '/' || d.lang, '/')) + 1))
         AS x(dd)
  WHERE EXISTS (SELECT 1 FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents) t
        WHERE t.doc_id = d.doc_id AND t.term = '{T_COMMON}'))
GROUP BY 1""".replace("{T_COMMON}", T_COMMON),
        "drill_down_path": """
SELECT string_split(d.source || '/' || d.lang, '/')[2] AS child,
       CAST(count(*) AS BIGINT) AS cnt
FROM documents d
WHERE array_to_string(
        list_slice(string_split(d.source || '/' || d.lang, '/'), 1, 1),
        '/') = 'src6'
  AND len(string_split(d.source || '/' || d.lang, '/')) > 1
  AND EXISTS (SELECT 1 FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents) t
      WHERE t.doc_id = d.doc_id AND t.term = '{T_COMMON}')
GROUP BY 1""".replace("{T_COMMON}", T_COMMON),
        "grouped_topk": _PRELUDE + ", " + _tscore_cte("ts", T_COMMON) + """
SELECT lang, doc_id, CAST(rnk AS INT) AS rank,
       CAST(floor(CAST(s AS DOUBLE) * 10000) AS BIGINT) AS score_q4
FROM (SELECT d.lang, t.doc_id, t.s,
             row_number() OVER (PARTITION BY d.lang
                                ORDER BY t.s DESC, t.doc_id ASC) AS rnk
      FROM ts t JOIN documents d ON d.doc_id = t.doc_id)
WHERE rnk <= 2""",
        "distinct_values": f"""
SELECT DISTINCT d.lang AS lang,
       CASE WHEN d.doc_id % 3 <> 0 THEN d.source END AS flavor
FROM documents d
WHERE EXISTS (SELECT 1 FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents) t
      WHERE t.doc_id = d.doc_id AND t.term = '{T_RARE}')""",
        "diversified_topk": _PRELUDE + ", " + _tscore_cte("ts", T_COMMON) + """
SELECT doc_id, CAST(grnk AS INT) AS rank, lang,
       CAST(floor(CAST(s AS DOUBLE) * 10000) AS BIGINT) AS score_q4
FROM (SELECT doc_id, lang, s,
             row_number() OVER (ORDER BY s DESC, doc_id ASC) AS grnk
      FROM (SELECT t.doc_id, d.lang, t.s,
                   row_number() OVER (PARTITION BY d.lang
                                      ORDER BY t.s DESC, t.doc_id ASC)
                     AS krnk
            FROM ts t JOIN documents d ON d.doc_id = t.doc_id)
      WHERE krnk <= 2)
WHERE grnk <= 10""",
        "doc_values_stats": f"""
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents)
  WHERE term = '{T_COMMON}'
),
vals AS (
  SELECT CASE WHEN d.doc_id % 4 <> 0 THEN d.n_chars END AS nval
  FROM matched m JOIN documents d ON d.doc_id = m.doc_id
)
SELECT CAST(count(nval) AS BIGINT) AS count,
       CAST(sum(CASE WHEN nval IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS missing,
       CAST(min(nval) AS BIGINT) AS min,
       CAST(max(nval) AS BIGINT) AS max,
       CAST(sum(nval) AS BIGINT) AS sum,
       CAST(floor(avg(nval) * 1000000) AS BIGINT) AS mean_q6
FROM vals""",
        "sort_by_field": f"""
SELECT doc_id, CAST(n_chars AS INT) AS n_chars, CAST(rnk AS INT) AS rank
FROM (SELECT d.doc_id, d.n_chars,
             row_number() OVER (ORDER BY d.n_chars DESC, d.doc_id ASC) AS rnk
      FROM documents d
      WHERE EXISTS (SELECT 1 FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents) t
            WHERE t.doc_id = d.doc_id AND t.term = '{T_RARE}'))
WHERE rnk <= 10""",
        "term_range_query": """
SELECT DISTINCT doc_id FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term BETWEEN 'batch' AND 'data'""",
        "range_facet_counts": f"""
WITH m AS (
  SELECT d.doc_id, d.n_chars FROM documents d
  WHERE EXISTS (SELECT 1 FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents) t
        WHERE t.doc_id = d.doc_id AND t.term = '{T_RARE}')
),
a AS (SELECT
  {", ".join(f"sum(CASE WHEN n_chars >= {lo} AND n_chars < {hi} THEN 1 ELSE 0 END) AS r{i}"
             for i, (lo, hi) in enumerate(_RANGE_BUCKETS))}
  FROM m)
{" UNION ALL ".join(f"SELECT 'range_{lo}_{hi}' AS bucket, CAST(r{i} AS BIGINT) AS cnt FROM a"
                    for i, (lo, hi) in enumerate(_RANGE_BUCKETS))}""",
        "drill_sideways": f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
m_base AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{T_COMMON}'),
m_drill AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{T_COMMON}'
            INTERSECT
            SELECT DISTINCT doc_id FROM tok WHERE term = '{T_RARE}'),
side AS (SELECT d.lang, count(*) AS c FROM documents d
         JOIN m_base USING (doc_id) GROUP BY 1),
drill AS (SELECT d.lang, count(*) AS c FROM documents d
          JOIN m_drill USING (doc_id) GROUP BY 1)
SELECT COALESCE(s.lang, dr.lang) AS lang,
       CAST(COALESCE(s.c, 0) AS BIGINT) AS sideways_cnt,
       CAST(COALESCE(dr.c, 0) AS BIGINT) AS drill_cnt
FROM side s FULL OUTER JOIN drill dr ON s.lang = dr.lang""",
        "query_join": f"""
SELECT doc_id FROM documents WHERE source IN (
  SELECT DISTINCT d.source FROM documents d
  WHERE EXISTS (SELECT 1 FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents) t
        WHERE t.doc_id = d.doc_id AND t.term = '{T_RARE}'))""",
        "block_join_topk": _PRELUDE + ", " + _tscore_cte("ts", T_COMMON)
        + """,
bj AS (SELECT (t.doc_id - (t.doc_id % 5) + 4) AS parent_id,
              CAST(max(CAST(t.s AS DOUBLE)) AS FLOAT) AS score,
              CAST(count(*) AS INT) AS n_children
       FROM ts t WHERE t.doc_id % 5 <> 4 GROUP BY 1)
SELECT parent_id, CAST(rnk AS INT) AS rank,
       CAST(floor(CAST(score AS DOUBLE) * 10000) AS BIGINT) AS score_q4,
       n_children
FROM (SELECT *, row_number() OVER (ORDER BY score DESC, parent_id ASC)
             AS rnk FROM bj)
WHERE rnk <= 10""",
        "block_join_children_topk": _PRELUDE + ", "
        + _tscore_cte("ts", T_COMMON) + f""",
pj AS (SELECT t.doc_id AS parent_id, CAST(t.s AS FLOAT) AS score
       FROM ts t WHERE t.doc_id % 5 = 4),
cj AS (SELECT d.doc_id, (d.doc_id - (d.doc_id % 5) + 4) AS parent_id
       FROM documents d WHERE d.doc_id % 5 <> 4)
SELECT doc_id, parent_id, CAST(rnk AS INT) AS rank,
       CAST(floor(CAST(score AS DOUBLE) * 10000) AS BIGINT) AS score_q4
FROM (SELECT cj.doc_id, cj.parent_id, pj.score,
             row_number() OVER (ORDER BY pj.score DESC,
                                cj.parent_id ASC, cj.doc_id ASC) AS rnk
      FROM cj JOIN pj USING (parent_id))
WHERE rnk <= 20""",
        "facet_sum_value_source": _PRELUDE + ", "
        + _tscore_cte("vs", T_COMMON) + """
SELECT d.lang AS lang,
       CAST(floor(sum(CAST(v.s AS DOUBLE)
                      + CAST(0.001 AS DOUBLE) * d.n_chars) * 100)
            AS BIGINT) AS vsum_q2,
       CAST(count(*) AS BIGINT) AS cnt
FROM vs v JOIN documents d ON d.doc_id = v.doc_id
GROUP BY 1""",
        "assoc_facet_sum": f"""
SELECT d.lang AS lang, CAST(sum(d.n_chars) AS BIGINT) AS assoc_sum,
       CAST(count(*) AS BIGINT) AS cnt
FROM documents d
WHERE EXISTS (SELECT 1 FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents) t
      WHERE t.doc_id = d.doc_id AND t.term = '{T_RARE}')
GROUP BY 1""",
        "bm25_after_merge_top10": _term_topk_sql(T_COMMON),
        "bm25_incremental_top10": _term_topk_sql(T_COMMON),
        "segment_lineage": f"""
WITH tok AS (SELECT doc_id, CAST(doc_id % {_SEGMENTS} AS INT) AS seg_id,
                    unnest(string_split(text, ' ')) AS term
             FROM documents)
SELECT seg_id,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS num_docs,
       CAST(count(DISTINCT term) AS BIGINT) AS num_terms,
       CAST(count(DISTINCT (term, doc_id)) AS BIGINT) AS num_postings,
       CAST(count(*) AS BIGINT) AS sum_doc_len
FROM tok GROUP BY 1""",
        "term_stats": """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS ttf
FROM tf GROUP BY 1""",
        "term_stats_salted": """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS ttf
FROM tf GROUP BY 1""",
        "field_stats": """
WITH doclen AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
                FROM documents)
SELECT CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(dl) AS BIGINT) AS sum_ttf FROM doclen""",
        "doc_norms": f"""
WITH lutb(b, v) AS (VALUES {_LUT_BV})
SELECT doc_id, CAST(dl AS INT) AS doc_len,
       CAST((SELECT max(b) FROM lutb WHERE v <= dl) AS INT) AS norm_byte
FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents)""",
        "content_sha256": "SELECT doc_id, sha256(text) AS sha256 FROM documents",
        "dedup_exact": """
SELECT md5(text) AS fingerprint, CAST(count(*) AS BIGINT) AS cnt,
       min(doc_id) AS keeper
FROM documents GROUP BY 1""",
        "dedup_ngram_jaccard": _ngram_jaccard_sql(0.8),
        "dedup_minhash_lsh": _minhash_sql(0.8),
        "dedup_cluster_roots": _minhash_cluster_sql(0.8),
        "bm25_stem_de_top10": _stem_de_topk_sql("filt"),
        "stem_de_term_stats": _stem_de_stats_sql(_STEM_DE_TERMS),
        "bm25_keyword_repeat_top10": (
            _KR_DE_PRELUDE + ", " + _tscore_cte("ts", "filt")
            + _topk_sql("ts", 10)),
        "bm25_pattern_tokenizer_top10": (
            _PATTERN_TOK_PRELUDE + ", " + _tscore_cte("ts", "q")
            + _topk_sql("ts", 10)),
        "pattern_tokenizer_term_stats": (
            _PATTERN_TOK_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({", ".join(f"'{t}'" for t in _PATTERN_TOK_TERMS)})"""),
        "bm25_pattern_replace_top10": (
            _PATTERN_REPLACE_PRELUDE + ", " + _tscore_cte("ts", "table")
            + _topk_sql("ts", 10)),
        "bm25_compound_top10": (
            _COMPOUND_PRELUDE + ", " + _tscore_cte("ts", "scan")
            + _topk_sql("ts", 10)),
        "bm25_html_strip_top10": (
            _HTML_STRIP_PRELUDE + ", " + _tscore_cte("ts", "data")
            + _topk_sql("ts", 10)),
        "html_strip_term_stats": (
            _HTML_STRIP_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({", ".join(f"'{t}'" for t in _HTML_MARKER_TERMS)})"""),
        "leading_wildcard_query": """
SELECT DISTINCT doc_id FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
WHERE term LIKE '%er'""",
        "reverse_term_stats": """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
SELECT reverse(term) AS term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS ttf
FROM t WHERE term LIKE '%er' GROUP BY 1""",
        # DelimitedTermFrequencyTokenFilter twin: the injected zqtf|N
        # token contributes N to its tf AND to the doc length the norm
        # encodes; every other token contributes 1
        "bm25_delimited_tf_top10": (
            _DELIM_TF_PRELUDE + ", " + _tscore_cte("ts", "zqtf")
            + _topk_sql("ts", 10)),
        "delimited_tf_stats": (
            _DELIM_TF_PRELUDE
            + """ SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ('zqtf', 'data', 'dup')"""),
        "bm25_keyword_marker_top10": (
            _MARKER_PRELUDE + ", " + _tscore_cte("ts", "filter")
            + _topk_sql("ts", 10)),
        "bm25_scandinavian_top10": (
            _append_marker_prelude("blabarsyltetoj") + ", "
            + _tscore_cte("ts", "blabarsyltetoj") + _topk_sql("ts", 10)),
        "bm25_hyphenated_top10": (
            _append_marker_prelude("zqhyphen") + ", "
            + _tscore_cte("ts", "zqhyphen") + _topk_sql("ts", 10)),
        "bm25_phonetic_top10": (
            _PHONETIC_PRELUDE + ", " + _tscore_cte("ts", "S540")
            + _topk_sql("ts", 10)),
        "bm25_dmetaphone_top10": (
            _phon_inject_prelude(_DMETA_TOKENS) + ", "
            + _tscore_cte("ts", "KXFS") + _topk_sql("ts", 10)),
        "dmetaphone_term_stats": _phon_stats_sql(
            _DMETA_TOKENS, _DMETA_STAT_TERMS),
        "metaphone_term_stats": _phon_stats_sql(
            _META_TOKENS, _META_STAT_TERMS),
        "cologne_term_stats": _phon_stats_sql(
            _COLOGNE_TOKENS, _COLOGNE_STAT_TERMS),
        "dm_soundex_term_stats": _phon_stats_sql(
            _DMS_TOKENS, _DMS_STAT_TERMS),
        "bm25_beider_morse_top10": (
            _phon_inject_prelude(_BM_TOKENS, include_original=False)
            + ", " + _tscore_cte("ts", "zmit") + _topk_sql("ts", 10)),
        "beider_morse_term_stats": _phon_stats_sql(
            _BM_TOKENS, _BM_STAT_TERMS, include_original=False),
        "bm25_hunspell_top10": (
            _synth_tok_prelude(_HUNSPELL_FORMS, _HUNSPELL_TOKENS, 12, 7)
            + ", " + _tscore_cte("ts", "scan") + _topk_sql("ts", 10)),
        "hunspell_term_stats": (
            _synth_tok_prelude(_HUNSPELL_FORMS, _HUNSPELL_TOKENS, 12, 7)
            + " SELECT term, CAST(df AS BIGINT) AS df,\n"
              "       CAST(ttf AS BIGINT) AS ttf\n"
              "FROM dfs WHERE term IN ("
            + ", ".join(f"'{t}'" for t in _HUNSPELL_STAT_TERMS) + ")"),
        "bm25_polish_top10": (
            _synth_tok_prelude(_STEMPEL_FORMS, _STEMPEL_TOKENS, 12, 7)
            + ", " + _tscore_cte("ts", "student") + _topk_sql("ts", 10)),
        "polish_term_stats": (
            _synth_tok_prelude(_STEMPEL_FORMS, _STEMPEL_TOKENS, 12, 7)
            + " SELECT term, CAST(df AS BIGINT) AS df,\n"
              "       CAST(ttf AS BIGINT) AS ttf\n"
              "FROM dfs WHERE term IN ("
            + ", ".join(f"'{t}'" for t in _STEMPEL_STAT_TERMS) + ")"),
        "bm25_smartcn_top10": (
            _smartcn_prelude()
            + ", " + _tscore_cte("ts", "技术") + _topk_sql("ts", 10)),
        "smartcn_term_stats": (
            _smartcn_prelude()
            + " SELECT term, CAST(df AS BIGINT) AS df,\n"
              "       CAST(ttf AS BIGINT) AS ttf\n"
              "FROM dfs WHERE term IN ("
            + ", ".join(f"'{t}'" for t in _SMARTCN_STAT_TERMS) + ")"),
        "bm25_icu_tokenizer_top10": (
            _varlen_tok_prelude(_ICU_TOK_FORMS, _ICU_TOK_TOKENS)
            + ", " + _tscore_cte("ts", "データ") + _topk_sql("ts", 10)),
        "icu_tokenizer_term_stats": (
            _varlen_tok_prelude(_ICU_TOK_FORMS, _ICU_TOK_TOKENS)
            + " SELECT term, CAST(df AS BIGINT) AS df,\n"
              "       CAST(ttf AS BIGINT) AS ttf\n"
              "FROM dfs WHERE term IN ("
            + ", ".join(f"'{t}'" for t in _ICU_TOK_STAT_TERMS) + ")"),
        "bm25_icu_fold_top10": (
            _synth_tok_prelude(_ICU_FORMS, _ICU_TOKENS, 12, 7)
            + ", " + _tscore_cte("ts", "resume") + _topk_sql("ts", 10)),
        "icu_fold_term_stats": (
            _synth_tok_prelude(_ICU_FORMS, _ICU_TOKENS, 12, 7)
            + " SELECT term, CAST(df AS BIGINT) AS df,\n"
              "       CAST(ttf AS BIGINT) AS ttf\n"
              "FROM dfs WHERE term IN ("
            + ", ".join(f"'{t}'" for t in _ICU_STAT_TERMS) + ")"),
        "bm25_url_token_top10": (
            _URLEMAIL_PRELUDE + ", "
            + _tscore_cte("ts", "http://zq.example.com/p?q=1")
            + _topk_sql("ts", 10)),
        "url_email_term_stats": (
            _URLEMAIL_PRELUDE
            + """ SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ('http://zq.example.com/p?q=0',
                        'http://zq.example.com/p?q=1',
                        'http://zq.example.com/p?q=2',
                        'bob@zqmail.org', 'see', 'mail')"""),
        # Expressions module twin: first-pass top-20 (engine tie-break
        # order), then the compiled '_score + ln(1 + popularity)'
        # formula in double
        "expression_rescore_top10": (
            _PRELUDE + ", " + _tscore_cte("ts", T_COMMON) + """,
fp AS (SELECT doc_id, s FROM ts
       ORDER BY s DESC, doc_id ASC LIMIT 20),
rs AS (SELECT doc_id,
              CAST(s AS DOUBLE)
              + ln(1 + CAST(doc_id % 10 AS DOUBLE)) AS s
       FROM fp)""" + _topk_sql("rs", 10)),
        # the URL-only index dictionary = the three injected variants,
        # df = ttf = the doc_id % 3 bucket sizes
        "url_extract_stats": """
SELECT 'http://zq.example.com/p?q=' || CAST(doc_id % 3 AS VARCHAR) AS term,
       CAST(count(*) AS BIGINT) AS df, CAST(count(*) AS BIGINT) AS ttf
FROM documents GROUP BY 1""",
        "protected_truncate_stats": """
WITH t AS (
  SELECT doc_id,
         CASE WHEN term = 'customer' THEN term
              ELSE substr(term, 1, 4) END AS term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents))
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS ttf
FROM t WHERE term IN ('customer', 'cust', 'orde', 'tabl', 'quer')
GROUP BY 1""",
        "phonetic_term_stats": (
            _PHONETIC_PRELUDE
            + """ SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ('S540', 'T140', 'D300', 'R000', 'small',
                        'table')"""),
        "keyword_marker_term_stats": (
            _MARKER_PRELUDE
            + """ SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ('filter', 'filt', 'zqtbl', 'tabl', 'table',
                        'ord')"""),
        # QueryAutoStopWordAnalyzer twin: each OR clause contributes only
        # if its df passes the 40%-of-numDocs gate (the rule, not the
        # precomputed outcome)
        "auto_stopword_top10": (
            _PRELUDE + ", " + _tscore_cte("ta0", T_COMMON) + ", "
            + _tscore_cte("tb0", T_RARE) + f""",
ta AS (SELECT t.* FROM ta0 t
       WHERE (SELECT df FROM dfs WHERE term = '{T_COMMON}')
             <= 0.4 * (SELECT dc FROM avgs)),
tb AS (SELECT t.* FROM tb0 t
       WHERE (SELECT df FROM dfs WHERE term = '{T_RARE}')
             <= 0.4 * (SELECT dc FROM avgs)),
orsc AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CAST(COALESCE(CAST(a.s AS DOUBLE), 0) +
              COALESCE(CAST(b.s AS DOUBLE), 0) AS FLOAT) AS s
  FROM ta a FULL OUTER JOIN tb b ON a.doc_id = b.doc_id
)""" + _topk_sql("orsc", 10)),
        "compound_term_stats": (
            _COMPOUND_PRELUDE
            + """ SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ('scan', 'index', 'table', 'scanindextable')"""),
        "bm25_capture_camel_top10": (
            _CAPTURE_PRELUDE + ", " + _tscore_cte("ts", "data")
            + _topk_sql("ts", 10)),
        "capture_term_stats": (
            _CAPTURE_PRELUDE
            + """ SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ('get', 'data', 'value')"""),
        "keyword_repeat_term_stats": (
            _KR_DE_PRELUDE
            + f""" SELECT term, CAST(df AS BIGINT) AS df,
       CAST(ttf AS BIGINT) AS ttf
FROM dfs WHERE term IN ({", ".join(f"'{t}'" for t in _KR_DE_TERMS)})"""),
        "bm25_elision_fr_top10": _elision_fr_topk_sql("sort"),
        "elision_fr_term_stats": _elision_fr_stats_sql(_ELISION_FR_TERMS),
        "combined_field_top10": _combined_field_topk_sql(
            "data", wt=_CFQ_WEIGHTS[0], wb=_CFQ_WEIGHTS[1],
            nt=_CFQ_TITLE_TOKENS),
        "bm25_cjk_top10": _cjk_topk_sql("数据"),
        "cjk_term_stats": _cjk_stats_sql(_CJK_TERMS),
        "wdgf_identifiers_top10": _wdgf_topk_sql("wifi"),
        "wdgf_term_stats": _wdgf_stats_sql(_WDGF_TERMS),
        "bm25_greek_top10": _greek_topk_sql("προιοντ"),
        "greek_term_stats": _greek_stats_sql(_GREEK_TERMS),
        "bm25_snowball_ru_top10": _snowball_ru_topk_sql("буйств"),
        "snowball_ru_term_stats": _snowball_ru_stats_sql(_SNOW_RU_TERMS),
        "ngram_filter_top10": _ngram_topk_sql(
            "dat", *_NGRAM_RANGE, edge=False),
        "edge_ngram_prefix_top10": _ngram_topk_sql(
            "dat", *_EDGE_RANGE, edge=True),
        "path_prefix_top10": _path_topk_sql("/src/m3"),
        "path_components_stats": _path_stats_sql(_PATH_TERMS),
        "dedup_simhash": _simhash_sql(),
        "dedup_simhash_pairs": _simhash_pairs_sql(3),
        "embed_lsh_topk": _lsh_topk_sql(20, 5),
        "embed_ivf_topk": _ivf_topk_sql(20, 5, num_centroids=8, nprobe=3),
        "text_token_count": """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+'))
            AS INT) AS n_subtokens
FROM documents""",
        "text_quality": _QUALITY_SQL,
        "text_lang_id": _LANG_SQL,
        #: FingerprintFilter twin: sorted distinct whitespace tokens
        #: joined by ' ' (binary string order both sides), NULL when
        #: empty or longer than the max (65536 here), md5-projected
        "fingerprint_token": """
SELECT doc_id,
       md5(CASE WHEN len(l) = 0 THEN NULL
                WHEN length(array_to_string(list_sort(l), ' ')) > 65536
                  THEN NULL
                ELSE array_to_string(list_sort(l), ' ') END) AS fp_md5
FROM (SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '),
                                       x -> x <> '')) AS l
      FROM documents)""",
        "text_fingerprint": """
SELECT doc_id, md5(text) AS fp_exact,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                           ' ')) AS fp_bag,
       list_min(list_transform(range(greatest(length(text) - 7, 1)),
                               i -> md5(substr(text, CAST(i + 1 AS INT), 8))))
           AS fp_roll
FROM documents""",
        "bm25_fuzzy_blended_top10": _PRELUDE + """,
fz AS (SELECT term, df, levenshtein(term, 'scon') AS d
       FROM dfs WHERE levenshtein(term, 'scon') <= 2),
bdf AS (SELECT max(df) AS df FROM fz),
fw AS (
  SELECT f.term,
         CAST((CASE WHEN f.d = 0 THEN CAST(1 AS FLOAT)
               ELSE CAST(CAST(1 AS FLOAT) - CAST(f.d AS FLOAT) /
                    CAST(least(length(f.term), 4) AS FLOAT) AS FLOAT) END)
              * (SELECT CAST(ln(1 + (a.dc - bd.df + CAST(0.5 AS DOUBLE)) /
                              (bd.df + CAST(0.5 AS DOUBLE))) AS FLOAT)
                 FROM bdf bd, avgs a) AS FLOAT) AS w
  FROM fz f),
persc AS (
  SELECT t.doc_id,
         CAST(w.w - w.w / (CAST(1 AS FLOAT) + CAST(t.tf AS FLOAT) * c.inv)
              AS DOUBLE) AS s
  FROM tf t JOIN fw w ON t.term = w.term
  JOIN normcache c ON t.doc_id = c.doc_id),
orsc AS (SELECT doc_id, CAST(SUM(s) AS FLOAT) AS s
         FROM persc GROUP BY doc_id)""" + _topk_sql("orsc", 10),
        "complex_phrase_top10": _PRELUDE + ","
        + _span_windows_cte_multi(((T_A, T_B), ("part",)), 2) + """,
cpf AS (SELECT doc_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list(CAST(1.0 AS DOUBLE) / (1 + ml) ORDER BY l, r)),
          (a, b) -> CAST(CAST(a AS DOUBLE) + b AS FLOAT)) AS freq
        FROM wins GROUP BY 1)"""
        + _span_score_sql("cpf", (T_A, T_B, "part"), 10),
        "fuzzy_suggest_top10": _PRELUDE + """
SELECT term, CAST(df AS BIGINT) AS weight
FROM dfs
WHERE term LIKE 's%' AND len(term) >= 3
  AND least(levenshtein(substring(term, 1, 3), 'scal'),
            levenshtein(substring(term, 1, 4), 'scal'),
            levenshtein(substring(term, 1, 5), 'scal')) <= 1
ORDER BY weight DESC, term ASC LIMIT 10""",
        "free_text_suggest_top10": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents),
uni AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
big AS (SELECT a.term AS a, b.term AS b, count(*) AS c
        FROM tok a JOIN tok b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
tot AS (SELECT sum(c) AS t FROM uni),
ftsc AS (
  SELECT b AS term,
         CAST(c AS DOUBLE) / (SELECT c FROM uni WHERE term = '{T_COMMON}')
           AS score
  FROM big WHERE a = '{T_COMMON}'
  UNION ALL
  SELECT u.term,
         CAST(0.4 AS DOUBLE) * CAST(u.c AS DOUBLE) / (SELECT t FROM tot)
           AS score
  FROM uni u
  WHERE NOT EXISTS (SELECT 1 FROM big
                    WHERE a = '{T_COMMON}' AND b = u.term)
)
SELECT term, CAST(floor(score * 1e12) AS BIGINT) AS score_q12
FROM (SELECT term, score,
             row_number() OVER (ORDER BY score DESC, term ASC) AS r
      FROM ftsc)
WHERE r <= 10""",
        "span_posrange_top10": _PRELUDE + f""",
prf AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS freq
        FROM tok
        WHERE term = '{T_COMMON}' AND pos >= 5 AND pos + 1 <= 25
        GROUP BY 1)"""
        + _span_score_sql("prf", (T_COMMON,), 10),
        "bm25_repeat_mixed_top10": _repeat_mixed_sloppy_sql(
            T_COMMON, T_COMMON2, 4),
        "bm25_repeat_sloppy_top10": _PRELUDE + f""",
rp AS (SELECT doc_id, pos,
              lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       FROM tok WHERE term = '{T_RARE}'),
rpf AS (SELECT doc_id,
               list_reduce(list_prepend(CAST(0.0 AS FLOAT),
            list(CAST(CAST(1.0 AS FLOAT)
                 / CAST(1 + (nxt - 1 - pos) AS FLOAT) AS FLOAT)
                 ORDER BY pos)),
          (a, b) -> CAST(CAST(a AS FLOAT) + CAST(b AS FLOAT) AS FLOAT)) AS freq
        FROM rp WHERE nxt IS NOT NULL AND nxt - 1 - pos <= 2
        GROUP BY 1)"""
        + _span_score_sql("rpf", (T_RARE, T_RARE), 10),
        "infix_suggest": _PRELUDE + """
SELECT term, CAST(df AS BIGINT) AS weight
FROM dfs
WHERE contains(term, 'ar')
ORDER BY starts_with(term, 'ar') DESC, weight DESC, term ASC
LIMIT 10""",
        "term_automaton_top10": _PRELUDE + f""",
atf AS (SELECT a.doc_id, count(*) AS freq
        FROM tok a JOIN tok b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 2
        WHERE a.term IN ('{T_A}', '{T_B}') AND b.term = '{T_COMMON}'
        GROUP BY 1)"""
        + _span_score_sql("atf", tuple(sorted((T_COMMON, T_A, T_B))), 10),
        "word_break_suggest": _PRELUDE + """,
wb AS (SELECT i,
              substring('partfilter', 1, i) AS lft,
              substring('partfilter', i + 1) AS rgt
       FROM unnest(range(1, len('partfilter'))) AS t(i)),
wbs AS (
  SELECT w.lft AS "left", w.rgt AS "right",
         CAST(dl.df AS BIGINT) AS df_left,
         CAST(dr.df AS BIGINT) AS df_right
  FROM wb w
  JOIN dfs dl ON dl.term = w.lft
  JOIN dfs dr ON dr.term = w.rgt)
SELECT * FROM wbs
ORDER BY df_left + df_right DESC, "left" ASC LIMIT 10""",
        "sweetspot_term_top10": _PRELUDE + f""",
ssw AS (SELECT CAST(ln((CAST(a.dc AS DOUBLE) + 1) /
                       (d.df + CAST(1.0 AS DOUBLE))) + 1 AS FLOAT) AS w
        FROM dfs d, avgs a WHERE d.term = '{T_COMMON}'),
ssnorm AS (
  SELECT dl.doc_id,
         CAST(1.0 / sqrt(CAST(
             CAST(CAST(0.5 AS FLOAT)
                  * CAST(abs(q.dlq - 40) + abs(q.dlq - 80) - 40 AS FLOAT)
                  AS FLOAT) + CAST(1.0 AS FLOAT)
             AS DOUBLE)) AS FLOAT) AS nrm
  FROM doclen dl,
       LATERAL (SELECT (SELECT max(v) FROM lut WHERE v <= dl.dl) AS dlq) q
),
sssc AS (
  SELECT f.doc_id,
         ((CASE WHEN CAST(f.tf AS FLOAT) <= CAST(3.0 AS FLOAT)
                THEN CAST(1.5 AS FLOAT)
                ELSE CAST(sqrt(CAST(CAST(f.tf AS FLOAT)
                                    + CAST(2.25 AS FLOAT)
                                    - CAST(3.0 AS FLOAT) AS DOUBLE))
                          AS FLOAT) END * w.w) * n.nrm) AS s
  FROM tf f
  JOIN ssnorm n ON n.doc_id = f.doc_id
  CROSS JOIN ssw w
  WHERE f.term = '{T_COMMON}'
)""" + _topk_sql("sssc", 10),
        "dfi_term_top10": _PRELUDE + f""",
dfisc AS (
  SELECT f.doc_id,
         CAST(CASE WHEN CAST(f.tf AS DOUBLE) <= e.e THEN 0
              ELSE CAST(1 AS DOUBLE)
                   * (ln((CAST(f.tf AS DOUBLE) - e.e) / sqrt(e.e)
                         + CAST(1 AS DOUBLE)) / ln(2)) END AS FLOAT) AS s
  FROM tf f
  JOIN (SELECT dl.doc_id,
               (d.ttf + CAST(1 AS DOUBLE))
               * (SELECT max(v) FROM lut WHERE v <= dl.dl)
               / (s.sttf + CAST(1 AS DOUBLE)) AS e
        FROM doclen dl, dfs d, stats s
        WHERE d.term = '{T_COMMON}') e ON e.doc_id = f.doc_id
  WHERE f.term = '{T_COMMON}'
)""" + _topk_sql("dfisc", 10),
        "ib_ll_term_top10": _PRELUDE + f""",
iblam AS (
  SELECT CASE WHEN CAST(CAST(d.df + 1 AS FLOAT)
                        / CAST(a.dc + 1 AS FLOAT) AS FLOAT)
                   = CAST(1 AS FLOAT)
              THEN CAST(0.99999994 AS FLOAT)
              ELSE CAST(CAST(d.df + 1 AS FLOAT)
                        / CAST(a.dc + 1 AS FLOAT) AS FLOAT)
         END AS lam
  FROM dfs d, avgs a WHERE d.term = '{T_COMMON}'
),
ibsc AS (
  SELECT f.doc_id,
         CAST(CAST(1 AS DOUBLE) *
              (-ln(CAST(l.lam AS DOUBLE) /
                   (CAST(f.tf AS DOUBLE) *
                    (ln(1 + CAST(1 AS DOUBLE) * CAST(a.avgdl AS DOUBLE) /
                        (SELECT max(v) FROM lut WHERE v <= dl.dl)) / ln(2))
                    + CAST(l.lam AS DOUBLE))))
              AS FLOAT) AS s
  FROM tf f
  JOIN doclen dl ON dl.doc_id = f.doc_id
  CROSS JOIN iblam l CROSS JOIN avgs a
  WHERE f.term = '{T_COMMON}'
)""" + _topk_sql("ibsc", 10),
        "axiomatic_f2log_term_top10": _PRELUDE + f""",
axsc AS (
  SELECT f.doc_id,
         CAST(CAST(1 AS DOUBLE) * greatest(
           (CAST(f.tf AS DOUBLE) /
            (CAST(f.tf AS DOUBLE) + (CAST(0.25 AS DOUBLE)
             + CAST(0.25 AS DOUBLE)
               * (SELECT max(v) FROM lut WHERE v <= dl.dl)
               / CAST(a.avgdl AS DOUBLE))))
           * ln((a.dc + CAST(1 AS DOUBLE)) / d.df),
           CAST(0 AS DOUBLE)) AS FLOAT) AS s
  FROM tf f JOIN dfs d ON d.term = f.term
  JOIN doclen dl ON dl.doc_id = f.doc_id
  CROSS JOIN avgs a
  WHERE f.term = '{T_COMMON}'
)""" + _topk_sql("axsc", 10),
        "indri_term_top10": _PRELUDE + f""",
indsc AS (
  SELECT f.doc_id,
         CAST(ln((CAST(f.tf AS DOUBLE)
                  + 2000.0 * (CAST(d.ttf AS DOUBLE)
                              / CAST(s.sttf AS DOUBLE)))
                 / ((SELECT max(v) FROM lut WHERE v <= dl.dl) + 2000.0))
              AS FLOAT) AS s
  FROM tf f JOIN dfs d ON d.term = f.term
  JOIN doclen dl ON dl.doc_id = f.doc_id
  CROSS JOIN stats s
  WHERE f.term = '{T_COMMON}'
)""" + _topk_sql("indsc", 10),
        "multi_sim_term_top10": _PRELUDE + ", "
        + _tscore_cte("ts", T_COMMON) + f""",
clw AS (SELECT CAST(ln((CAST(a.dc AS DOUBLE) + 1) /
                       (d.df + CAST(1.0 AS DOUBLE))) + 1 AS FLOAT) AS w
        FROM dfs d, avgs a WHERE d.term = '{T_COMMON}'),
clsc AS (
  SELECT f.doc_id,
         ((CAST(sqrt(CAST(f.tf AS DOUBLE)) AS FLOAT) * w.w)
              * CAST(1.0 / sqrt(CAST((SELECT max(v) FROM lut WHERE v <= d.dl)
                                     AS DOUBLE)) AS FLOAT)) AS s
  FROM tf f
  JOIN doclen d ON f.doc_id = d.doc_id
  CROSS JOIN clw w
  WHERE f.term = '{T_COMMON}'
),
msc AS (
  SELECT t.doc_id, (t.s + c.s) AS s
  FROM ts t JOIN clsc c ON c.doc_id = t.doc_id
)""" + _topk_sql("msc", 10),
        "nb_document_classify": """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         CASE WHEN unnest(range(len(string_split(text, ' ')))) < 4
              THEN 0 ELSE 1 END AS f
  FROM documents
),
cls AS (SELECT doc_id, lang AS cls FROM documents),
cstat AS (SELECT cls, count(*) AS df_c FROM cls GROUP BY cls),
dwcnt AS (SELECT count(*) AS n FROM cls),
dc AS (SELECT count(*) AS dc FROM documents),
fsdf AS (SELECT f, count(*) AS sdf
         FROM (SELECT DISTINCT f, term, doc_id FROM tok) GROUP BY f),
favgu AS (SELECT f, CAST(sdf AS DOUBLE)
                    / CAST((SELECT dc FROM dc) AS DOUBLE) AS au
          FROM fsdf),
inp AS (SELECT doc_id AS input_id, f, term FROM tok WHERE doc_id < 10),
itf AS (SELECT input_id, f, term, count(*) AS tf FROM inp GROUP BY 1, 2, 3),
intok AS (SELECT input_id, f, count(*) AS n_tokens FROM inp GROUP BY 1, 2),
chits AS (
  SELECT t.f, t.term, c.cls, count(DISTINCT t.doc_id) AS hits
  FROM tok t JOIN cls c ON c.doc_id = t.doc_id
  WHERE t.term IN (SELECT DISTINCT term FROM inp)
  GROUP BY 1, 2, 3
),
num AS (
  SELECT i.input_id, i.f, h.cls,
         sum(CAST(i.tf AS DOUBLE)
             * ln(CAST(h.hits AS DOUBLE) + CAST(1 AS DOUBLE))) AS numsum
  FROM itf i JOIN chits h ON h.f = i.f AND h.term = i.term
  GROUP BY 1, 2, 3
),
contrib AS (
  SELECT i.input_id, s.cls,
         ln(CAST(s.df_c AS DOUBLE)) - ln(CAST(d.n AS DOUBLE))
         + (CASE WHEN i.f = 0 THEN CAST(2.0 AS DOUBLE)
                 ELSE CAST(1.0 AS DOUBLE) END)
           * (COALESCE(m.numsum, 0)
              - CAST(i.n_tokens AS DOUBLE)
                * ln(a.au * CAST(s.df_c AS DOUBLE) + CAST(d.n AS DOUBLE)))
           / CAST(i.n_tokens AS DOUBLE) AS cb
  FROM intok i
  CROSS JOIN cstat s CROSS JOIN dwcnt d
  JOIN favgu a ON a.f = i.f
  LEFT JOIN num m ON m.input_id = i.input_id AND m.f = i.f
                  AND m.cls = s.cls
),
rawsc AS (SELECT input_id, cls, sum(cb) AS raw FROM contrib GROUP BY 1, 2),
mx AS (SELECT input_id, max(raw) AS m FROM rawsc GROUP BY 1),
sm AS (SELECT r.input_id, sum(exp(r.raw - m.m)) AS se
       FROM rawsc r JOIN mx m USING (input_id) GROUP BY 1),
soft AS (
  SELECT r.input_id, r.cls, exp(r.raw - (m.m + ln(s.se))) AS p
  FROM rawsc r JOIN mx m USING (input_id) JOIN sm s USING (input_id)
),
asg AS (
  SELECT input_id, cls, p,
         row_number() OVER (PARTITION BY input_id
                            ORDER BY p DESC, cls ASC) AS r
  FROM soft
)
SELECT input_id, cls, CAST(floor(p * 1000) AS BIGINT) AS score_q3
FROM asg WHERE r = 1""",
        "knn_document_top": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         CASE WHEN unnest(range(len(string_split(text, ' ')))) < 4
              THEN 0 ELSE 1 END AS f
  FROM documents
),
lut(v) AS (VALUES {_LUT_V}),
dc AS (SELECT count(*) AS dc FROM documents),
fdl AS (SELECT doc_id, f, count(*) AS dl FROM tok GROUP BY 1, 2),
favg AS (SELECT f, CAST(CAST(sum(dl) AS DOUBLE)
                        / CAST((SELECT dc FROM dc) AS DOUBLE) AS FLOAT)
                   AS avgdl
         FROM fdl GROUP BY f),
fnorm AS (
  SELECT d.doc_id, d.f,
         CAST(CAST(1.0 AS DOUBLE) AS FLOAT) /
         (CAST(CAST(1.2 AS DOUBLE) AS FLOAT) *
          ((CAST(CAST(1.0 AS DOUBLE) AS FLOAT)
            - CAST(CAST(0.75 AS DOUBLE) AS FLOAT))
           + CAST(CAST(0.75 AS DOUBLE) AS FLOAT)
             * CAST((SELECT max(v) FROM lut WHERE v <= d.dl) AS FLOAT)
             / a.avgdl)) AS inv
  FROM fdl d JOIN favg a ON a.f = d.f
),
ftf AS (SELECT doc_id, f, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
fdfs AS (SELECT f, term, count(*) AS df FROM ftf GROUP BY 1, 2),
ksel AS (
  SELECT vt.f, vt.term, vt.bf, d.df,
         CAST(CAST(vt.tf AS FLOAT) *
              CAST(ln(((SELECT dc FROM dc) + 1)
                      / (d.df + CAST(1.0 AS DOUBLE)))
                   + CAST(1.0 AS DOUBLE) AS FLOAT) AS FLOAT) AS sel
  FROM (VALUES (0, '{T_COMMON}', 2, 2.0), (0, '{T_COMMON2}', 2, 2.0),
               (1, '{T_COMMON2}', 2, 1.0), (1, '{T_THIRD}', 2, 1.0))
       vt(f, term, tf, bf)
  JOIN fdfs d ON d.f = vt.f AND d.term = vt.term
  WHERE d.df >= 1
),
kmin AS (SELECT f, min(sel) AS mn FROM ksel GROUP BY f),
kw AS (
  SELECT s.f, s.term,
         CAST(CAST(CAST(CAST(s.bf AS FLOAT) * s.sel AS FLOAT) / m.mn
                   AS FLOAT)
              * CAST(ln(1 + ((SELECT dc FROM dc) - s.df
                             + CAST(0.5 AS DOUBLE))
                        / (s.df + CAST(0.5 AS DOUBLE))) AS FLOAT)
              AS FLOAT) AS w
  FROM ksel s JOIN kmin m ON m.f = s.f
),
kpersc AS (
  SELECT t.doc_id, t.f,
         CAST(w.w - w.w / (CAST(1 AS FLOAT) + CAST(t.tf AS FLOAT) * c.inv)
              AS DOUBLE) AS ps
  FROM ftf t
  JOIN kw w ON w.f = t.f AND w.term = t.term
  JOIN fnorm c ON c.doc_id = t.doc_id AND c.f = t.f
),
kfield AS (SELECT doc_id, f, CAST(SUM(ps) AS FLOAT) AS s
           FROM kpersc GROUP BY 1, 2),
ktotal AS (SELECT doc_id, CAST(SUM(CAST(s AS DOUBLE)) AS FLOAT) AS s
           FROM kfield GROUP BY 1),
ktop AS (
  SELECT doc_id, s,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
  FROM ktotal
),
ktop10 AS (SELECT doc_id, s FROM ktop WHERE r <= 10),
kmax AS (SELECT max(s) AS m FROM ktop10),
ksb AS (
  SELECT t.doc_id,
         CAST(CAST(t.s / (SELECT m FROM kmax) AS FLOAT) AS DOUBLE) AS sb
  FROM ktop10 t
),
kvotes AS (
  SELECT d.lang AS cls, count(*) AS c, sum(sb) AS b
  FROM ksb t JOIN documents d ON d.doc_id = t.doc_id
  GROUP BY 1
),
ktot AS (SELECT sum(c) AS sumdoc FROM kvotes),
ksc AS (
  SELECT cls, c,
         CASE WHEN (SELECT sumdoc FROM ktot) < 10
              THEN ((c * (b / c)) / CAST(10 AS DOUBLE))
                   * CAST(10 AS DOUBLE)
                   / CAST((SELECT sumdoc FROM ktot) AS DOUBLE)
              ELSE (c * (b / c)) / CAST(10 AS DOUBLE) END AS score
  FROM kvotes
)
SELECT cls, CAST(floor(score * 1000000) AS BIGINT) AS score_q6,
       CAST(c AS INT) AS cnt
FROM ksc""",
        "payloads_for_query": f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
pay AS (
  SELECT doc_id, term, CAST(pos AS INT) AS pos,
         CAST(CAST((doc_id + pos) % 7 AS DOUBLE) * CAST(0.5 AS DOUBLE)
              AS FLOAT) AS payload
  FROM tok
),
ph AS (
  SELECT a.doc_id, a.pos AS p0
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{T_COMMON}' AND b.term = '{T_COMMON2}'
),
phrows AS (
  SELECT doc_id, '{T_COMMON}' AS term, CAST(p0 AS INT) AS pos FROM ph
  UNION ALL
  SELECT doc_id, '{T_COMMON2}', CAST(p0 + 1 AS INT) FROM ph
)
SELECT doc_id, term, pos, payload FROM pay WHERE term = '{T_COMMON2}'
UNION ALL
SELECT r.doc_id, r.term, r.pos,
       CAST(CAST((r.doc_id + r.pos) % 7 AS DOUBLE) * CAST(0.5 AS DOUBLE)
            AS FLOAT) AS payload
FROM phrows r""",
        "dv_terms_in_set": """
SELECT doc_id, lang AS value FROM documents
WHERE lang IN ('fr', 'zh')""",
        "dv_numbers_in_set": f"""
WITH hit AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  WHERE term = '{T_RARE}'
),
resolved AS (
  SELECT d.doc_id,
         CAST(CASE WHEN h.doc_id IS NOT NULL THEN 5000 ELSE d.n_chars END
              AS BIGINT) AS value
  FROM documents d LEFT JOIN hit h ON h.doc_id = d.doc_id
)
SELECT doc_id, value FROM resolved
WHERE value IN (63, 132, 157, 207, 246, 328, 359, 5000)""",
        "indri_and_top10": _PRELUDE + f""",
iau AS (
  SELECT DISTINCT doc_id FROM tok
  WHERE term IN ('{T_COMMON}', '{T_RARE}')
),
iap AS (
  SELECT term, CAST(ttf AS DOUBLE) / (SELECT CAST(sttf AS DOUBLE)
                                      FROM stats) AS p
  FROM dfs WHERE term IN ('{T_COMMON}', '{T_RARE}')
),
iasc AS (
  SELECT u.doc_id,
         CAST(((CAST(CAST(ln((COALESCE(fa.tf, 0)
                              + 2000.0 * (SELECT p FROM iap
                                          WHERE term = '{T_COMMON}'))
                             / ((SELECT max(v) FROM lut WHERE v <= dl.dl)
                                + 2000.0)) AS FLOAT) AS DOUBLE) * 1.0)
               + (CAST(CAST(ln((COALESCE(fb.tf, 0)
                                + 2000.0 * (SELECT p FROM iap
                                            WHERE term = '{T_RARE}'))
                               / ((SELECT max(v) FROM lut WHERE v <= dl.dl)
                                  + 2000.0)) AS FLOAT) AS DOUBLE) * 1.0))
              / 2.0 AS FLOAT) AS s
  FROM iau u
  JOIN doclen dl ON dl.doc_id = u.doc_id
  LEFT JOIN (SELECT doc_id, tf FROM tf WHERE term = '{T_COMMON}') fa
    ON fa.doc_id = u.doc_id
  LEFT JOIN (SELECT doc_id, tf FROM tf WHERE term = '{T_RARE}') fb
    ON fb.doc_id = u.doc_id
)""" + _topk_sql("iasc", 10),
        "multi_range_query": """
SELECT doc_id FROM documents
WHERE (n_chars BETWEEN 50 AND 80)
   OR (n_chars BETWEEN 75 AND 120)
   OR (n_chars BETWEEN 400 AND 450)""",
        "blended_infix_suggest": f"""
WITH btok AS (
  SELECT text, n_chars AS weight,
         unnest(string_split(lower(text), ' ')) AS tk,
         unnest(range(len(string_split(lower(text), ' ')))) AS pos
  FROM documents
),
bm AS (
  SELECT text, weight, min(pos) AS first_pos
  FROM btok WHERE tk LIKE '{T_COMMON}%'
  GROUP BY text, weight
)
SELECT text,
       CAST(trunc((CASE WHEN weight = 0 THEN 1.0
                        WHEN weight < 10 AND weight > -10
                          THEN weight * 10.0
                        ELSE CAST(weight AS DOUBLE) END)
                  * (CASE WHEN lower(text) LIKE '{T_COMMON}%' THEN 1.0
                          ELSE 1.0 - 0.10 * CAST(first_pos AS DOUBLE)
                     END)) AS BIGINT) AS score,
       CAST(weight AS BIGINT) AS weight
FROM bm
ORDER BY score DESC, text ASC
LIMIT 10""",
        "fuzzy_like_this_top10": _PRELUDE + """,
flt_src(src, slen) AS (VALUES ('quary', 5), ('strem', 5)),
flt_cand AS (
  SELECT s.src, s.slen, d.term, d.df,
         levenshtein(d.term, s.src) AS dist
  FROM dfs d, flt_src s
  WHERE abs(length(d.term) - s.slen) <= 1
    AND substring(d.term, 1, 1) = substring(s.src, 1, 1)
    AND levenshtein(d.term, s.src) <= 1
),
flt_dfsrc AS (
  SELECT src, COALESCE(
           (SELECT df FROM dfs WHERE term = c.src),
           CAST(floor(CAST(sum(df) AS DOUBLE) / count(*)) AS BIGINT))
         AS dfsrc
  FROM flt_cand c GROUP BY src
),
flt_scored AS (
  SELECT c.term,
         CAST(CAST(
           (CASE WHEN c.dist = 0 THEN CAST(1 AS FLOAT)
                 ELSE CAST(1.0 AS FLOAT)
                      - CAST(c.dist AS FLOAT)
                        / CAST(least(length(c.term), c.slen) AS FLOAT)
            END)
           * (CASE WHEN c.dist = 0 THEN CAST(1 AS FLOAT)
                   ELSE CAST(1.0 AS FLOAT)
                        - CAST(c.dist AS FLOAT)
                          / CAST(least(length(c.term), c.slen) AS FLOAT)
              END) AS FLOAT)
           * CAST(ln((a.dc + 1) / (s.dfsrc + CAST(1.0 AS DOUBLE))) + 1
                  AS FLOAT)
           AS FLOAT) AS stscore
  FROM flt_cand c
  JOIN flt_dfsrc s ON s.src = c.src
  CROSS JOIN avgs a
),
flt_top AS (
  SELECT term, stscore FROM flt_scored
  ORDER BY stscore DESC, term ASC LIMIT 50
),
flt_w AS (
  SELECT term,
         CAST(stscore
              * CAST(ln(1 + (a.dc - 1 + CAST(0.5 AS DOUBLE))
                            / (1 + CAST(0.5 AS DOUBLE))) AS FLOAT)
              AS FLOAT) AS w
  FROM flt_top, avgs a
),
fltsc AS (
  SELECT f.doc_id,
         CAST(SUM(CAST((v.w - v.w / (CAST(1 AS FLOAT)
                                     + CAST(f.tf AS FLOAT) * c.inv))
                       AS DOUBLE)) AS FLOAT) AS s
  FROM tf f
  JOIN flt_w v ON v.term = f.term
  JOIN normcache c ON c.doc_id = f.doc_id
  GROUP BY f.doc_id
)""" + _topk_sql("fltsc", 10),
        "spell_scored_suggest": _PRELUDE + """
SELECT term, CAST(floor(CAST(s AS DOUBLE) * 1000000) AS BIGINT) AS score_q6,
       CAST(df AS BIGINT) AS df
FROM (SELECT term, df,
             CAST(1.0 - CAST(levenshtein(term, 'sparc') AS DOUBLE)
                        / CAST(greatest(length(term), 5) AS DOUBLE)
                  AS FLOAT) AS s
      FROM dfs
      WHERE term <> 'sparc' AND term LIKE 's%'
        AND abs(length(term) - 5) <= 2)
ORDER BY s DESC, df DESC, term ASC
LIMIT 5""",
        "range_field_relations": """
WITH ranges AS (
  SELECT doc_id, n_chars AS rmin, n_chars + doc_id % 50 AS rmax
  FROM documents
)
SELECT doc_id, 'intersects' AS relation FROM ranges
WHERE rmin <= 300 AND rmax >= 150
UNION ALL
SELECT doc_id, 'within' AS relation FROM ranges
WHERE rmin >= 150 AND rmax <= 300
UNION ALL
SELECT doc_id, 'contains' AS relation FROM ranges
WHERE rmin <= 150 AND rmax >= 300
UNION ALL
SELECT doc_id, 'crosses' AS relation FROM ranges
WHERE (rmin <= 300 AND rmax >= 150)
  AND NOT (rmin >= 150 AND rmax <= 300)""",
        "boolean_term_top10": _PRELUDE + f""",
bsc AS (
  SELECT DISTINCT doc_id, CAST(CAST(1.5 AS DOUBLE) AS FLOAT) AS s
  FROM tok WHERE term = '{T_COMMON}'
)""" + _topk_sql("bsc", 10),
        "dfr_term_top10": _PRELUDE + f""",
dfrsc AS (
  SELECT f.doc_id,
         CAST(CAST(1 AS DOUBLE) *
              ((ln((a.dc + 1) / (d.df + CAST(0.5 AS DOUBLE))) / ln(2))
               * CAST(1 AS DOUBLE) *
               (CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) /
                (CAST(1 AS DOUBLE) + CAST(f.tf AS DOUBLE) *
                 (ln(1 + CAST(1 AS DOUBLE) * CAST(a.avgdl AS DOUBLE) /
                     (SELECT max(v) FROM lut WHERE v <= dl.dl)) / ln(2)))))
              AS FLOAT) AS s
  FROM tf f
  JOIN dfs d ON d.term = f.term
  JOIN doclen dl ON dl.doc_id = f.doc_id
  CROSS JOIN avgs a
  WHERE f.term = '{T_COMMON}'
)""" + _topk_sql("dfrsc", 10),
        "monitor_matches": _PRELUDE + f"""
SELECT doc_id, 'q_term' AS query_id FROM tok WHERE term = '{T_COMMON}'
GROUP BY doc_id
UNION ALL
SELECT a.doc_id, 'q_and' AS query_id
FROM (SELECT DISTINCT doc_id FROM tok WHERE term = '{T_COMMON}') a
JOIN (SELECT DISTINCT doc_id FROM tok WHERE term = '{T_COMMON2}') b
  ON a.doc_id = b.doc_id
UNION ALL
SELECT p1.doc_id, 'q_phrase' AS query_id
FROM tok p1 JOIN tok p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
WHERE p1.term = '{PH_A}' AND p2.term = '{PH_B}'
GROUP BY p1.doc_id
UNION ALL
SELECT doc_id, 'q_prefix' AS query_id FROM tok WHERE term LIKE 'str%'
GROUP BY doc_id
UNION ALL
SELECT doc_id, 'q_fuzzy' AS query_id FROM tok
WHERE abs(len(term) - 5) <= 1 AND levenshtein(term, 'quary') <= 1
GROUP BY doc_id
UNION ALL
SELECT DISTINCT a.doc_id, 'q_spannear' AS query_id
FROM tok a JOIN tok b ON a.doc_id = b.doc_id
WHERE a.term = '{T_COMMON}' AND b.term = '{T_THIRD}'
  AND greatest(abs(a.pos - b.pos) + 1 - 2, 0) <= 2""",
        "bm25_deleted_top10": _PRELUDE + ", "
        + _tscore_cte("ts", T_COMMON) + """,
livesc AS (
  SELECT t.doc_id, t.s FROM ts t
  WHERE t.doc_id NOT IN (SELECT DISTINCT doc_id FROM tok
                         WHERE term = 'slow')
)""" + _topk_sql("livesc", 10),
        # identical oracle on purpose: soft tombstones are
        # reader-indistinguishable from hard ones pre-merge
        "bm25_soft_deleted_top10": _PRELUDE + ", "
        + _tscore_cte("ts", T_COMMON) + """,
livesc AS (
  SELECT t.doc_id, t.s FROM ts t
  WHERE t.doc_id NOT IN (SELECT DISTINCT doc_id FROM tok
                         WHERE term = 'slow')
)""" + _topk_sql("livesc", 10),
        "lmd_term_top10": _PRELUDE + f""",
lmsc AS (
  SELECT f.doc_id,
         CAST(greatest(
           CAST(1 AS DOUBLE) *
           (ln(1 + CAST(f.tf AS DOUBLE) *
                   (CAST(1 AS DOUBLE) /
                    (2000.0 * ((d.ttf + CAST(1 AS DOUBLE)) /
                               (s.sttf + CAST(1 AS DOUBLE))))))
            + ln(2000.0 / ((SELECT max(v) FROM lut WHERE v <= dl.dl)
                           + 2000.0))),
           0) AS FLOAT) AS s
  FROM tf f
  JOIN dfs d ON d.term = f.term
  JOIN doclen dl ON dl.doc_id = f.doc_id
  CROSS JOIN stats s
  WHERE f.term = '{T_COMMON}'
)""" + _topk_sql("lmsc", 10),
        "suggest_prefix": _PRELUDE + """
SELECT term, CAST(df AS BIGINT) AS weight
FROM dfs WHERE term LIKE 's%'
ORDER BY df DESC, term ASC LIMIT 10""",
        "spell_suggest": _PRELUDE + """
SELECT term, CAST(levenshtein(term, 'sparc') AS INT) AS distance,
       CAST(df AS BIGINT) AS df
FROM dfs
WHERE term <> 'sparc' AND term LIKE 's%'
  AND abs(length(term) - 5) <= 2 AND levenshtein(term, 'sparc') <= 2
ORDER BY distance ASC, df DESC, term ASC LIMIT 5""",
        "mlt_top10": _PRELUDE + _MLT_CTES + _topk_sql("orsc", 10),
        "knn_classify_doc0": _PRELUDE + _MLT_CTES + """,
ktop AS (
  SELECT doc_id, CAST(s AS DOUBLE) AS s,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
  FROM orsc
),
ktop10 AS (SELECT doc_id, s FROM ktop WHERE r <= 10),
kmax AS (SELECT max(s) AS m FROM ktop10),
kvotes AS (
  SELECT d.lang AS cls, sum(t.s / (SELECT m FROM kmax)) AS b,
         count(*) AS c
  FROM ktop10 t JOIN documents d ON d.doc_id = t.doc_id
  GROUP BY 1
),
ktot AS (SELECT sum(c) AS sumdoc FROM kvotes),
ksc AS (
  SELECT cls,
         b / (CASE WHEN (SELECT sumdoc FROM ktot) >= 10
                   THEN CAST(10 AS DOUBLE)
                   ELSE CAST((SELECT sumdoc FROM ktot) AS DOUBLE) END)
           AS score
  FROM kvotes
)
SELECT cls, CAST(row_number() OVER (ORDER BY score DESC, cls ASC) AS INT)
         AS rank,
       CAST(floor(score * 1000000) AS BIGINT) AS score_q6
FROM ksc""",
        #: getClasses-over-text twin: boosted MLT selection (f32 tf·idf,
        #: min-of-selected normalization), boosted-OR BM25 (f32 partials
        #: summed in double → f32), per-hit f32 score/maxScore, class
        #: aggregation in double with the k/sumdoc correction.
        "knn_classify_text": _PRELUDE + f""",
ksel AS (
  SELECT d.term,
         CAST(CAST(vt.tf AS FLOAT) *
              CAST(ln((a.dc + 1) / (d.df + CAST(1.0 AS DOUBLE)))
                   + CAST(1.0 AS DOUBLE) AS FLOAT) AS FLOAT) AS sel
  FROM (VALUES ('{T_COMMON}', 3), ('{T_COMMON2}', 2), ('{T_THIRD}', 2))
       vt(term, tf)
  JOIN dfs d ON d.term = vt.term
  CROSS JOIN avgs a
  WHERE d.df >= 5
),
kmin AS (SELECT min(sel) AS mn FROM ksel),
kw AS (
  SELECT s.term,
         CAST(CAST(s.sel / (SELECT mn FROM kmin) AS FLOAT)
              * CAST(ln(1 + (a.dc - d.df + CAST(0.5 AS DOUBLE)) /
                        (d.df + CAST(0.5 AS DOUBLE))) AS FLOAT)
              AS FLOAT) AS w
  FROM ksel s JOIN dfs d ON d.term = s.term CROSS JOIN avgs a
),
kpersc AS (
  SELECT f.doc_id,
         CAST(w.w - w.w / (CAST(1 AS FLOAT) + CAST(f.tf AS FLOAT) * c.inv)
              AS DOUBLE) AS ps
  FROM tf f JOIN kw w ON f.term = w.term
  JOIN normcache c ON f.doc_id = c.doc_id
),
korsc AS (SELECT doc_id, CAST(SUM(ps) AS FLOAT) AS s
          FROM kpersc GROUP BY doc_id),
ktop AS (
  SELECT doc_id, s,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
  FROM korsc
),
ktop10 AS (SELECT doc_id, s FROM ktop WHERE r <= 10),
kmax AS (SELECT max(s) AS m FROM ktop10),
ksb AS (
  SELECT t.doc_id,
         CAST(CAST(t.s / (SELECT m FROM kmax) AS FLOAT) AS DOUBLE) AS sb
  FROM ktop10 t
),
kvotes AS (
  SELECT d.lang AS cls, count(*) AS c, sum(sb) AS b
  FROM ksb t JOIN documents d ON d.doc_id = t.doc_id
  GROUP BY 1
),
ktot AS (SELECT sum(c) AS sumdoc FROM kvotes),
ksc AS (
  SELECT cls, c,
         CASE WHEN (SELECT sumdoc FROM ktot) < 10
              THEN ((c * (b / c)) / CAST(10 AS DOUBLE))
                   * CAST(10 AS DOUBLE)
                   / CAST((SELECT sumdoc FROM ktot) AS DOUBLE)
              ELSE (c * (b / c)) / CAST(10 AS DOUBLE) END AS score
  FROM kvotes
)
SELECT cls, CAST(floor(score * 1000000) AS BIGINT) AS score_q6,
       CAST(c AS INT) AS cnt
FROM ksc""",
        #: BooleanPerceptron twin: initial weights = global ttf; with
        #: batch_size > n_train the compiled FST only ever carries doc
        #: 0's update (the reference's FST-lag quirk), so the trained
        #: model is closed-form: w(t) = max(0, ttf + m·tf0) for doc-0
        #: terms when doc 0 misclassifies under the initial weights
        #: (m = correct.compareTo(assigned)), else ttf.
        "perceptron_assign": _PRELUDE + """,
pbias AS (SELECT CAST(sttf AS DOUBLE) / CAST(dc AS DOUBLE) AS b
          FROM stats),
p0out AS (
  SELECT COALESCE(sum(f.tf * d.ttf), 0) AS o
  FROM tf f JOIN dfs d ON f.term = d.term WHERE f.doc_id = 0
),
p0mod AS (
  SELECT CASE
    WHEN (SELECT lang = 'en' FROM documents WHERE doc_id = 0)
         AND NOT ((SELECT CAST(o AS DOUBLE) FROM p0out)
                  >= (SELECT b FROM pbias)) THEN 1
    WHEN NOT (SELECT lang = 'en' FROM documents WHERE doc_id = 0)
         AND ((SELECT CAST(o AS DOUBLE) FROM p0out)
              >= (SELECT b FROM pbias)) THEN -1
    ELSE 0 END AS m
),
pw AS (
  SELECT d.term,
         CASE WHEN (SELECT m FROM p0mod) <> 0 AND f0.tf IS NOT NULL
              THEN greatest(0, d.ttf + (SELECT m FROM p0mod) * f0.tf)
              ELSE d.ttf END AS w
  FROM dfs d LEFT JOIN (SELECT term, tf FROM tf WHERE doc_id = 0) f0
    ON d.term = f0.term
),
pout AS (
  SELECT f.doc_id, sum(f.tf * w.w) AS output
  FROM tf f JOIN pw w ON f.term = w.term
  GROUP BY 1
)
SELECT doc_id, CAST(output AS BIGINT) AS output,
       CAST(CASE WHEN CAST(output AS DOUBLE) >= (SELECT b FROM pbias)
                 THEN 1 ELSE 0 END AS INT) AS assigned,
       CAST(floor((1 - exp(-abs((SELECT b FROM pbias)
                                - CAST(output AS DOUBLE))
                           / (SELECT b FROM pbias))) * 1000000)
            AS BIGINT) AS score_q6
FROM pout""",
        "embed_cosine_topk": _cosine_sql(20, 5),
        "embed_hnsw_topk": _cosine_sql(20, 5),
        "embed_ivf_full_topk": _cosine_sql(20, 5),
        "knn_filtered_topk": _cosine_filtered_sql(20, 5, (T_RARE, SYN_A)),
        "dedup_embed_cosine": """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(len(a.embedding)),
             i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(len(a.embedding)),
                i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(len(b.embedding)),
                i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))))
         AS cos
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, CAST(floor(cos * 10000) AS BIGINT) AS cos_q4
FROM pairs WHERE cos >= CAST(0.4 AS DOUBLE)""",
        "multimodal_meta": """
SELECT doc_id, 'application/octet-stream' AS media_type,
       CAST(octet_length(encode(text)) AS INT) AS payload_len,
       md5(text) AS payload_md5
FROM documents""",
        "multimodal_features": _FEATURES_SQL,
        # dedup_simhash_pairs / embed_lsh_topk / embed_ivf_topk:
        # approximate-by-design →
        # rows-only check (no SQL oracle); differential tests cover them.
    }
