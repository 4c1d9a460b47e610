"""The build path's analysis chain is one ``AnalyzerSpec`` value.

``data/analyzer_spec/goldens.json`` was recorded through
``invert_segment``'s keyword API before the spec existed
(``python tests/test_analyzer_spec.py --record PATH`` from the repo root):

* ``acceptance``: for every chain option and every pair of options, set
  to one representative value, the exception class ``invert_segment``
  raised on a 3-doc frame (``null`` when it accepted the chain);
* ``hashes``: the sha256 of ``invert_segment``'s postings, doc_meta,
  norms and ``sum_token_len`` on a fixed 50-doc frame, for every option
  and every ``language_analyzer_kwargs`` preset.

The spec must reject exactly the recorded chains plus pairs of chain
selectors, every accepted chain must still write the same bytes, and
``build_index`` must reject a bad chain before it runs any Spark job.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os

import pandas as pd
import pytest

_HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(_HERE, "data", "analyzer_spec", "goldens.json")
_HUNSPELL = (os.path.join(_HERE, "data", "hunspell", "simple.aff"),
             os.path.join(_HERE, "data", "hunspell", "simple.dic"))

_CAMEL = (r"([A-Z]{2,})", r"(?<![A-Z])([A-Z][a-z]+)",
          r"(?:^|\b|(?<=[0-9_])|(?<=[A-Z]{2}))([a-z]+)", r"([0-9]+)")
#: WordDelimiterGraphFilter flags: word/number parts, split on case and
#: numerics, stem English possessives, catenate words
_WD_FLAGS = 1 | 2 | 64 | 128 | 256 | 4

#: one representative value per chain option; the tokenizer has three,
#: one per kind of chain it selects
OPTIONS = {
    "stopwords": {"stopwords": frozenset({"the", "a", "if", "to"})},
    "stemmer": {"stemmer": "porter"},
    "synonyms": {"synonyms": {"quick": ["fast"], "token": ["tok"]}},
    "discount_overlaps": {"discount_overlaps": False},
    "payload_delimiter": {"payload_delimiter": "|"},
    "tokenizer": {"tokenizer": "whitespace"},
    "tokenizer=path": {"tokenizer": "path"},
    "tokenizer=ngram": {"tokenizer": ("ngram", 2, 3)},
    "shingles": {"shingles": (2, 2)},
    "ascii_folding": {"ascii_folding": True},
    "common_grams": {"common_grams": frozenset({"the", "if"})},
    "elision": {"elision": frozenset({"l", "d"})},
    "cjk_bigrams": {"cjk_bigrams": 15},
    "cjk_output_unigrams": {"cjk_output_unigrams": True},
    "ngrams": {"ngrams": (2, 3)},
    "ngram_edge": {"ngram_edge": True},
    "ngram_preserve_original": {"ngram_preserve_original": True},
    "word_delimiter": {"word_delimiter": _WD_FLAGS},
    "word_delimiter_protected": {"word_delimiter_protected":
                                 frozenset({"c++"})},
    "keyword_repeat": {"keyword_repeat": True},
    "pattern_replace": {"pattern_replace": ("s$", "x", False)},
    "token_filters": {"token_filters": (("limit", 50),)},
    "dictionary_compound": {"dictionary_compound":
                            frozenset({"data", "base", "foot", "ball"})},
    "capture_groups": {"capture_groups": (_CAMEL, False)},
    "char_filters": {"char_filters": (("html_strip",),)},
    "reverse_tokens": {"reverse_tokens": True},
    "term_freq_delimiter": {"term_freq_delimiter": "|"},
    "keyword_marker": {"keyword_marker": frozenset({"running"})},
    "stemmer_override": {"stemmer_override": {"running": "ran"}},
    "phonetic": {"phonetic": ("soundex", False)},
    "hunspell": {"hunspell": _HUNSPELL},
    "min_hash": {"min_hash": (2, 1, 1, 10, False)},
    "concatenate_graph": {"concatenate_graph": True},
    "icu_folding": {"icu_folding": True},
}

#: options that pick which tokenize/filter branch runs; at most one
SELECTORS = frozenset({"cjk_bigrams", "tokenizer=path", "tokenizer=ngram",
                       "word_delimiter", "capture_groups",
                       "keyword_repeat"})

_SMALL = ["The quick l'avion runs|2 getDataValue <b>Café</b> running",
          "北京大学生活 database football the if token|3 Müller",
          "path/to/file.txt x@y.com running fast DataBase c++ quick"]

_MIXED = [
    "北京大学的学生在图书馆学习 データベースのインデックス",
    "ภาษาไทยเป็นภาษาที่สวยงาม 한국어 형태소 분석기",
    "Ελληνικά κείμενα για αναζήτηση και ευρετήριο",
    "Русский текст для полнотекстового поиска running",
    "l'avion d'accord qu'il Café naïve Müller Fußball résumé",
    "<p>Visit <a href='x'>http://example.com/a?b=1</a> or mail "
    "bob@example.org</p> &amp; more",
    "getDataValue parseHTTPResponse readFile2Buffer wi-fi c++ e-mail",
    "اللغة العربية جميلة والكتب مفيدة للطلاب",
    "हिंदी भाषा में लिखे गए लेख और किताबें lucene mahoute",
    "runs|2 token|3 quick|1 fast running|4 ran",
    "Kuczewski Schmidt Smith Thompson Washington Jackson",
    "the football database runs and the footballs ran quickly",
]


def _small_frame() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": range(len(_SMALL)), "content": _SMALL})


def _frame() -> pd.DataFrame:
    """38 generated code-like docs and 12 multilingual ones, 50 in all."""
    from lucene_spark.sources.corpus import generate_corpus
    gen = generate_corpus(38, seed=11)
    texts = [str(t) for t in gen["content"]] + _MIXED
    return pd.DataFrame({"doc_id": range(len(texts)), "content": texts})


def _table_keys():
    names = sorted(OPTIONS)
    for name in names:
        yield (name,)
    for a, b in itertools.combinations(names, 2):
        if not OPTIONS[a].keys() & OPTIONS[b].keys():
            yield (a, b)


def _table_kwargs(key) -> dict:
    kw = {}
    for name in key:
        kw.update(OPTIONS[name])
    return kw


def _acceptance() -> dict:
    """``{"a" or "a+b": "ExceptionClass: message" or None}`` from running
    the build kernel, without positions, on the 3-doc frame."""
    from lucene_spark.operators.build import invert_segment
    out = {}
    for key in _table_keys():
        kw = _table_kwargs(key)
        stopwords = kw.pop("stopwords", frozenset())
        try:
            invert_segment(_small_frame(), 0, "content", "doc_id",
                           stopwords, False, **kw)
            out["+".join(key)] = None
        except Exception as e:  # noqa: BLE001 - the class is the record
            out["+".join(key)] = f"{type(e).__name__}: {e}"
    return out


def _hash_cases() -> dict:
    """``{name: invert_segment keywords}``: each option on its own (with
    the partner it needs to run), more values for the tokenizer,
    phonetic and char-filter options, and every language preset."""
    from lucene_spark.functions.lightstem import language_analyzer_kwargs
    needs = {
        "word_delimiter": {"tokenizer": "whitespace"},
        "word_delimiter_protected": {"tokenizer": "whitespace",
                                     "word_delimiter": _WD_FLAGS},
        "keyword_repeat": {"stemmer": "porter"},
        "cjk_output_unigrams": {"cjk_bigrams": 15},
        "ngram_edge": {"ngrams": (1, 3)},
        "ngram_preserve_original": {"ngrams": (3, 4)},
        "keyword_marker": {"stemmer": "porter"},
        "stemmer_override": {"stemmer": "porter"},
        "discount_overlaps": {"synonyms": {"quick": ["fast"]}},
        "term_freq_delimiter": {"tokenizer": ("pattern",
                                              r"\w+(?:\|\d+)?", 0),
                                "store_positions": False},
    }
    cases = {name: {**needs.get(name, {}), **kw}
             for name, kw in OPTIONS.items()}
    more = {
        "tokenizer=letter": {"tokenizer": "letter"},
        "tokenizer=keyword": {"tokenizer": "keyword"},
        "tokenizer=path_reverse": {"tokenizer": "path_reverse"},
        "tokenizer=edge_ngram": {"tokenizer": ("edge_ngram", 1, 3)},
        "tokenizer=pattern": {"tokenizer": ("pattern", r"[a-z]+", 0)},
        "tokenizer=url_email": {"tokenizer": "url_email"},
        "tokenizer=icu": {"tokenizer": "icu"},
        "tokenizer=smartcn": {"tokenizer": "smartcn"},
        "payload_delimiter+whitespace": {"tokenizer": "whitespace",
                                         "payload_delimiter": "|"},
        "phonetic=soundex_inject": {"phonetic": ("soundex", True)},
        "phonetic=double_metaphone": {
            "phonetic": ("double_metaphone_filter", False, 4)},
        "phonetic=daitch_mokotoff": {
            "phonetic": ("daitch_mokotoff_filter", True)},
        "phonetic=beider_morse": {"phonetic": ("beider_morse",)},
        "char_filters=mapping": {"char_filters": (
            ("mapping", (("ß", "ss"), ("-", ""))),)},
        "char_filters=icu_normalize": {"char_filters": (
            ("icu_normalize",),)},
        "concatenate_graph=tuple": {"concatenate_graph": ("_", False),
                                    "stopwords": frozenset({"the"})},
        "capture_groups+preserve": {"tokenizer": "whitespace",
                                    "capture_groups": (_CAMEL, True)},
        "stemmer+stopwords+shingles": {
            "stemmer": "porter", "shingles": (2, 3),
            "stopwords": frozenset({"the", "and"})},
    }
    cases.update(more)
    for lang in ("german", "french", "spanish", "italian", "portuguese",
                 "galician", "russian", "swedish", "norwegian", "finnish",
                 "hungarian", "czech", "bulgarian", "latvian", "hindi",
                 "indonesian", "arabic", "english", "greek", "polish",
                 "smart_chinese", "icu"):
        cases[f"preset={lang}"] = language_analyzer_kwargs(lang)
    return cases


def _digest(store_positions=True, stopwords=frozenset(), **chain) -> str:
    from lucene_spark.operators.build import invert_segment
    postings, doc_meta, norms, sum_token_len = invert_segment(
        _frame(), 0, "content", "doc_id", stopwords, store_positions,
        **chain)
    h = hashlib.sha256()
    for df in (postings, doc_meta):
        for col in df.columns:
            h.update(repr((col, str(df[col].dtype),
                           df[col].tolist())).encode())
    h.update(repr(sorted(norms.items())).encode())
    h.update(repr(int(sum_token_len)).encode())
    return h.hexdigest()


def record() -> dict:
    return {"acceptance": _acceptance(),
            "hashes": {name: _digest(**kw)
                       for name, kw in sorted(_hash_cases().items())}}


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDENS, encoding="utf-8") as f:
        return json.load(f)


def _spec_error(kw):
    from lucene_spark.functions.analysis import AnalyzerSpec
    try:
        AnalyzerSpec(**kw)
    except ValueError as e:
        return e
    return None


#: the kernel's data check on the delimited term-frequency suffix, which
#: stays in the kernel: a path or ngram token keeps the ``|`` of the text
_DATA_CHECK = "ValueError: invalid term frequency suffix"


def test_spec_rejects_recorded_chains_and_selector_pairs(goldens):
    recorded = goldens["acceptance"]
    assert set(recorded) == {"+".join(k) for k in _table_keys()}
    assert all(err is None or err.startswith("ValueError: ")
               for err in recorded.values())
    rules = {k for k, err in recorded.items()
             if err and not err.startswith(_DATA_CHECK)}
    selector_pairs = {"+".join(k) for k in _table_keys()
                      if len(k) == 2 and set(k) <= SELECTORS}
    got = {"+".join(k) for k in _table_keys()
           if _spec_error(_table_kwargs(k)) is not None}
    assert got == rules | selector_pairs
    # the only additions are selector pairs the kernel resolved by its
    # branch order, dropping the second selector without a word
    assert selector_pairs - rules


def test_kernel_rejects_what_the_spec_rejects(goldens):
    from lucene_spark.operators.build import invert_segment
    for key in _table_keys():
        kw = _table_kwargs(key)
        recorded = goldens["acceptance"]["+".join(key)]
        if _spec_error(kw) is None and not recorded:
            continue
        stopwords = kw.pop("stopwords", frozenset())
        with pytest.raises(ValueError):
            invert_segment(_small_frame(), 0, "content", "doc_id",
                           stopwords, False, **kw)


def test_selectors_are_mutually_exclusive():
    from lucene_spark.functions.analysis import AnalyzerSpec
    with pytest.raises(ValueError, match="select"):
        AnalyzerSpec(cjk_bigrams=15, word_delimiter=1)
    with pytest.raises(ValueError, match="select"):
        AnalyzerSpec(tokenizer=("ngram", 2, 3), keyword_repeat=True,
                     stemmer="porter")
    AnalyzerSpec(cjk_bigrams=15)
    AnalyzerSpec(tokenizer="whitespace", word_delimiter=1)


def test_output_hashes_unchanged(goldens):
    recorded = goldens["hashes"]
    cases = _hash_cases()
    assert set(recorded) == set(cases)
    changed = [name for name, kw in sorted(cases.items())
               if _digest(**kw) != recorded[name]]
    assert changed == []


#: one chain per combination rule, with the message text it raises
RULES = [
    ({"cjk_bigrams": 15, "stemmer": "porter"}, "cjk_bigrams"),
    ({"tokenizer": "path", "stemmer": "porter"}, "path/ngram"),
    ({"tokenizer": "whitespace", "word_delimiter": 1,
      "stemmer": "porter"}, "word_delimiter is mutually"),
    ({"word_delimiter": 1}, "requires tokenizer='whitespace'"),
    ({"capture_groups": (_CAMEL, False), "stemmer": "porter"},
     "capture_groups"),
    ({"keyword_repeat": True}, "requires a stemmer"),
    ({"keyword_repeat": True, "stemmer": "porter", "shingles": (2, 2)},
     "keyword_repeat is mutually"),
    ({"concatenate_graph": True, "phonetic": ("soundex", True)},
     "concatenate_graph"),
    ({"min_hash": (2, 1, 1, 10, False), "phonetic": ("soundex", True)},
     "min_hash"),
    ({"phonetic": ("soundex", True), "shingles": (2, 2)}, "phonetic"),
    ({"hunspell": _HUNSPELL, "phonetic": ("soundex", True)}, "hunspell"),
    ({"term_freq_delimiter": "|"}, "store_positions=False"),
    ({"term_freq_delimiter": "|", "store_positions": False,
      "ngrams": (2, 3)}, "term_freq_delimiter"),
    ({"reverse_tokens": True, "payload_delimiter": "|"}, "reverse_tokens"),
    ({"payload_delimiter": "|", "synonyms": {"a": ["b"]}},
     "payloads and index-time synonyms"),
    ({"shingles": (2, 2), "synonyms": {"a": ["b"]}}, "shingles are"),
    ({"common_grams": frozenset({"the"}), "shingles": (2, 2)},
     "common_grams"),
    ({"dictionary_compound": frozenset({"data"}), "shingles": (2, 2)},
     "dictionary_compound"),
    ({"ngrams": (2, 3), "shingles": (2, 2)}, "ngrams filter"),
]


def test_build_index_rejects_bad_chains_before_any_job(spark_jobs, spark,
                                                      tmp_path):
    from lucene_spark.operators.build import build_index
    assert len(RULES) == 19
    df = spark.createDataFrame(_small_frame())
    for i, (kw, message) in enumerate(RULES):
        def bad():
            with pytest.raises(ValueError, match=message):
                build_index(spark, df, str(tmp_path / f"bad{i}"),
                            num_segments=2, **kw)

        _, jobs = spark_jobs(f"analyzer-spec-rule-{i}", bad)
        assert jobs == [], kw


def test_unknown_chain_keyword_is_a_type_error(spark, tmp_path):
    from lucene_spark.operators.build import build_index
    df = spark.createDataFrame(_small_frame())
    with pytest.raises(TypeError):
        build_index(spark, df, str(tmp_path / "idx"), num_segments=2,
                    stemmer_typo="porter")


if __name__ == "__main__":
    import sys
    if len(sys.argv) != 3 or sys.argv[1] != "--record":
        sys.exit("usage: python tests/test_analyzer_spec.py --record PATH")
    sys.path.insert(0, os.path.dirname(_HERE))
    with open(sys.argv[2], "w", encoding="utf-8") as f:
        json.dump(record(), f, indent=1, sort_keys=True)
        f.write("\n")
