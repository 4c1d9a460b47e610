"""Analysis chain: StandardAnalyzer-equivalent tokenize → lowercase → stop.

Semantics mirrored from the reference (documented UAX#29 *subset*, exact on
the corpus charsets we index):

  * word-break tokenization — letters/digits/underscore runs form words,
    digits may embed ``.``/``,`` between digit groups (numbers), ``'`` joins
    letters (reference ``analysis/standard/StandardTokenizer.java:43-57``,
    grammar ``StandardTokenizerImpl.jflex``). Full UAX#29 covers scripts we
    never index here; golden tests pin behavior on our charset.
  * tokens longer than ``max_token_length`` (default 255) are skipped but
    still consume a position (``StandardTokenizer.java:145-168``).
  * lowercase per codepoint (``analysis/LowerCaseFilter.java:36-43``) —
    Python ``str.lower()`` on our charsets.
  * stop filter drops tokens but accumulates position increments so gaps
    remain (``analysis/StopFilter.java:94-98``,
    ``FilteringTokenFilter.java:48-63``); removed stopwords contribute
    neither to positions renumbering nor to the doc length
    (``IndexingChain.java:1190-1248`` — length sums surviving tokens only).
  * StandardAnalyzer default stop set is EMPTY
    (``standard/StandardAnalyzer.java:51-53``); the optional English set is
    the 33-word list (``en/EnglishAnalyzer.java:43-52``).

Everything here is batch-oriented (pandas Series in, columnar out) so it can
run inside ``mapInPandas``/``applyInPandas`` without per-row Python UDFs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, fields, replace

import numpy as np
import pandas as pd

#: number tokens (digits with internal ./,) or word tokens (letter/underscore
#: start, \w continuation, '/’ join — both are UAX#29 MidNumLet like the
#: reference's grammar). Documented UAX#29 subset.
TOKEN_PATTERN = r"\d[\w]*(?:[.,]\d[\w]*)*|[^\W\d][\w]*(?:['’][\w]+)*"
_TOKEN_RE = re.compile(TOKEN_PATTERN, re.UNICODE)

#: the reference's core tokenizer family (``analysis/core/``):
#: whitespace = maximal non-whitespace runs (WhitespaceTokenizer.java:73),
#: letter = maximal letter runs (LetterTokenizer.java:60; SimpleAnalyzer
#: = letter + lowercase), keyword = whole input as one token
#: (KeywordTokenizer). Note: CharTokenizer SPLITS overlong tokens at 255
#: chars; we apply the standard skip-and-count rule uniformly instead
#: (documented divergence — irrelevant below 255-char tokens).
TOKENIZERS = {
    "standard": _TOKEN_RE,
    "whitespace": re.compile(r"\S+", re.UNICODE),
    "letter": re.compile(r"[^\W\d_]+", re.UNICODE),
}

#: standard-tokenizer fast path: for ASCII text containing NONE of the
#: UAX#29 joiner chars ``. , '`` (``’`` is non-ASCII), every _TOKEN_RE
#: match is exactly a maximal ``[0-9A-Za-z_]+`` run (both alternatives
#: accept any \w continuation and neither can join across a non-word
#: char without a joiner), so tokenize = translate-non-word-to-space +
#: split — two C calls per doc, ~2x the regex scan on code-like corpora.
_SIMPLE_TBL = str.maketrans({chr(c): " " for c in range(128)
                             if not (chr(c).isalnum() or chr(c) == "_")})
_HAS_JOINER = re.compile(r"[.,']")

MAX_TOKEN_LENGTH = 255  # reference StandardAnalyzer.java:37

#: reference EnglishAnalyzer.java:43-52
ENGLISH_STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)

__all__ = [
    "AnalyzerSpec",
    "TOKEN_PATTERN",
    "MAX_TOKEN_LENGTH",
    "ENGLISH_STOP_WORDS",
    "analyze_text",
    "analyze_batch",
]


#: ASCIIFoldingFilter special cases that canonical decomposition does not
#: reach (reference ``analysis/common/.../miscellaneous/ASCIIFoldingFilter
#: .java:146`` — the switch's ligature/stroke/thorn rows; the full table
#: spans many more Unicode blocks, out of scope per SURVEY §2.1)
_FOLD_SPECIALS = str.maketrans({
    "ß": "ss", "æ": "ae", "Æ": "AE", "œ": "oe", "Œ": "OE",
    "ø": "o", "Ø": "O", "đ": "d", "Đ": "D", "ł": "l", "Ł": "L",
    "ħ": "h", "Ħ": "H", "ð": "d", "Ð": "D", "þ": "th", "Þ": "TH",
    "ŧ": "t", "Ŧ": "T", "ı": "i", "ĳ": "ij", "Ĳ": "IJ",
})


def fold_to_ascii(s: str) -> str:
    """ASCIIFoldingFilter role (reference ``miscellaneous/
    ASCIIFoldingFilter.java:146``): fold accented Latin characters to
    their ASCII equivalents — explicit map for the ligature/stroke rows,
    then NFKD decomposition with combining marks stripped. Characters
    with no ASCII equivalent (non-Latin scripts) pass through unchanged,
    like the reference's default case."""
    if s.isascii():
        return s
    import unicodedata
    s = s.translate(_FOLD_SPECIALS)
    if s.isascii():
        return s
    d = unicodedata.normalize("NFKD", s)
    return "".join(c for c in d if not unicodedata.combining(c))


def elide(token: str, articles) -> str:
    """ElisionFilter (reference ``util/ElisionFilter.java:55-70``): find
    the FIRST apostrophe (``'`` or ``’``); if the prefix before it
    is a known article, strip prefix + apostrophe. Article matching is
    case-insensitive (the per-language DEFAULT_ARTICLES CharArraySets
    are built with ignoreCase=true), so this commutes with the
    LowerCaseFilter that follows it in the reference chains."""
    for i, ch in enumerate(token):
        if ch == "'" or ch == "’":
            if token[:i].lower() in articles:
                return token[i + 1:]
            return token
    return token


def analyze_text(text: str,
                 stopwords: frozenset[str] = frozenset(),
                 max_token_length: int = MAX_TOKEN_LENGTH,
                 stemmer: str | None = None,
                 tokenizer: str | tuple = "standard",
                 lowercase: bool = True,
                 ascii_folding: bool = False,
                 icu_folding: bool | str = False,
                 length_filter: tuple | None = None,
                 elision: frozenset[str] | None = None,
                 pattern_replace: tuple | None = None,
                 token_filters: tuple = (),
                 char_filters: tuple = (),
                 keyword_marker: frozenset = frozenset(),
                 stemmer_override: dict | None = None):
    """Single-string analyzer (test/oracle path).

    Returns (terms, positions, length): surviving lowercase terms, their
    token positions (with gaps where stopwords / overlong tokens were), and
    the field length (count of surviving tokens = what the norm encodes).

    ``stemmer='porter'`` selects the EnglishAnalyzer chain (reference
    ``en/EnglishAnalyzer.java``): possessive strip before the stop filter,
    Porter stem after it. Any name from
    :data:`lucene_spark.functions.lightstem.LIGHT_STEMMERS` selects the
    per-language light/minimal chain (reference per-language analyzers:
    lowercase -> stop filter -> stem filter; no possessive strip).
    """
    if char_filters:
        # Analyzer.initReader — char filters rewrite the raw text before
        # the tokenizer (charfilter/ package)
        from .charfilter import compile_char_filters
        text = compile_char_filters(char_filters)(text or "")
    light_stem = None
    if stemmer not in (None, "porter"):
        from .lightstem import LIGHT_STEMMERS
        light_stem = LIGHT_STEMMERS.get(stemmer)
        if light_stem is None:
            raise ValueError(f"unknown stemmer {stemmer!r}")
    if stemmer and length_filter:
        raise ValueError("length_filter with a stemmer chain is not "
                         "supported (pre/post-stem length ambiguity)")
    if stemmer == "porter":
        from .stem import porter_stem, strip_possessive
    pr = None
    if pattern_replace is not None:
        from .pattern import compile_pattern_replace
        pr = compile_pattern_replace(pattern_replace)
    tf_map, tf_keep, tf_limit, tf_pos_limit = (None, None, None, None)
    if token_filters:
        from .pattern import compile_token_filters
        tf_map, tf_keep, tf_limit, tf_pos_limit = \
            compile_token_filters(token_filters)
    terms: list[str] = []
    positions: list[int] = []
    pos = -1
    if isinstance(tokenizer, tuple) and tokenizer[0] == "pattern":
        # PatternTokenizer (pattern/PatternTokenizer.java) — tokenize on
        # the ORIGINAL text (LowerCaseFilter comes after in the chain,
        # so case-sensitive patterns see the source)
        from .pattern import pattern_tokens
        raws = pattern_tokens(text or "", re.compile(tokenizer[1]),
                              tokenizer[2])
    elif tokenizer == "keyword":
        raws = [text] if text else []
    elif tokenizer == "url_email" or (
            isinstance(tokenizer, tuple) and tokenizer[0] == "url_email"):
        # UAX29URLEmailTokenizer (functions/urlemail.py): URLs and
        # emails survive as single tokens, words via the standard
        # rules. The tuple form ("url_email", type, ...) composes the
        # TypeTokenFilter (miscellaneous/TypeTokenFilter.java,
        # useWhiteList=true): keep only tokens of the listed types
        # ('URL' / 'EMAIL' / 'word'), position gaps preserved.
        from .urlemail import url_email_tokens
        keep_types = (frozenset(tokenizer[1:])
                      if isinstance(tokenizer, tuple) else None)
        raws = [t if keep_types is None or ty in keep_types else None
                for t, ty in url_email_tokens(text or "")]
    elif tokenizer == "smartcn":
        # HMMChineseTokenizer (smartcn): JDK sentence DFA -> HHMM
        # segmentation -> SegTokenFilter normalization (latin already
        # lowercased, punctuation -> ','); the downstream lowercase is
        # a no-op by construction
        from .smartcn import tokenize as smartcn_tokenize
        raws = [t.text for t in smartcn_tokenize(text or "")]
    elif tokenizer == "icu":
        # ICUTokenizer (analysis/icu/segmentation): per-script UAX#29
        # with the CJK + Thai dictionary break engines, golden-exact
        # vs the compiled reference (functions/icutokenizer.py)
        from .icutokenizer import icu_tokenize
        raws = [t for (t, _s, _e, _ty, _sc)
                in icu_tokenize(text or "")]
    else:
        raws = TOKENIZERS[tokenizer].findall(text)
    for raw in raws:
        pos += 1  # every tokenizer-emitted token consumes a position
        if raw is None:
            continue  # TypeTokenFilter drop: gap kept
        if len(raw) > max_token_length:
            continue  # skipped but counted (StandardTokenizer:156-166)
        low = raw.lower() if lowercase else raw
        if ascii_folding:
            low = fold_to_ascii(low)
        if icu_folding:
            # ICUFoldingFilter / ICUNormalizer2Filter (icu module):
            # True = the UTR#30 fold (casefold+accent removal), or a
            # named normalizer ("nfkc_cf"/"nfkc"/"nfc")
            from .icunorm import normalize as _icu_norm
            low = _icu_norm(low,
                            "utr30" if icu_folding is True else icu_folding)
        if elision is not None:
            low = elide(low, elision)
        if stemmer == "greek":
            # GreekLowerCaseFilter folds BEFORE the stop filter
            # (el/GreekAnalyzer.java chain; the stop set is folded)
            from .greekstem import greek_fold
            low = greek_fold(low)
        if pr is not None:
            # PatternReplaceFilter after the normalizers, before the
            # stop filter; emptied tokens are kept (reference behavior)
            low = pr(low)
        if tf_map is not None:
            low = tf_map(low)
        if tf_keep is not None and not tf_keep(low):
            continue  # KeepWordFilter: dropped, gap kept
        if stemmer == "porter":
            low = strip_possessive(low)
        if low in stopwords:
            continue  # dropped, gap kept (StopFilter)
        if length_filter is not None and not (
                length_filter[0] <= len(low) <= length_filter[1]):
            continue  # LengthFilter: dropped, gap kept (miscellaneous/
            #           LengthFilter.java extends FilteringTokenFilter)
        if low in keyword_marker:
            pass  # SetKeywordMarkerFilter: stemmers skip keywords
        elif stemmer_override is not None and low in stemmer_override:
            low = stemmer_override[low]  # StemmerOverrideFilter
        elif stemmer == "porter":
            low = porter_stem(low)
        elif light_stem is not None:
            low = light_stem(low)
        if tf_pos_limit is not None and pos + 1 > tf_pos_limit:
            continue  # LimitTokenPositionFilter: past max position
        if tf_limit is not None and len(terms) >= tf_limit:
            break  # LimitTokenCountFilter: stop emitting
        terms.append(low)
        positions.append(pos)
    return terms, positions, len(terms)


def analyze_text_offsets(text: str,
                         stopwords: frozenset[str] = frozenset(),
                         max_token_length: int = MAX_TOKEN_LENGTH,
                         lowercase: bool = True):
    """Standard-chain analysis WITH character offsets — the term-vector
    payload (reference: term vectors store per-doc term/position/offset
    triples when ``FieldType.setStoreTermVectorOffsets(true)``;
    ``codecs/lucene90/compressing/Lucene90CompressingTermVectorsWriter
    .java``). Returns (terms, starts, ends) for surviving tokens, same
    skip rules as :func:`analyze_text`'s standard chain (overlong
    skipped, stopwords dropped). Offset-bearing chains with
    token-rewriting filters (stemmer/synonyms/shingles) are out of
    scope for term vectors — offsets stop meaning source slices there."""
    terms: list[str] = []
    starts: list[int] = []
    ends: list[int] = []
    for m in _TOKEN_RE.finditer(text or ""):
        raw = m.group()
        if len(raw) > max_token_length:
            continue
        low = raw.lower() if lowercase else raw
        if low in stopwords:
            continue
        terms.append(low)
        starts.append(m.start())
        ends.append(m.end())
    return terms, starts, ends


def analyze_batch(texts: pd.Series,
                  stopwords: frozenset[str] = frozenset(),
                  max_token_length: int = MAX_TOKEN_LENGTH,
                  stemmer: str | None = None,
                  tokenizer: str | tuple = "standard",
                  lowercase: bool = True,
                  ascii_folding: bool = False,
                  icu_folding: bool | str = False,
                  length_filter: tuple | None = None,
                  elision: frozenset[str] | None = None,
                  pattern_replace: tuple | None = None,
                  token_filters: tuple = (),
                  keyword_marker: frozenset = frozenset(),
                  stemmer_override: dict | None = None):
    """Columnar analyzer for a batch of documents.

    Returns (doc_idx, terms, positions, lengths):
      doc_idx   int64 array — positional row index into ``texts`` per token
      terms     object array of lowercase surviving tokens
      positions int64 array of token positions (gaps preserved)
      lengths   int64 array per row — surviving token count (norm input)
    """
    if stemmer and length_filter:
        raise ValueError("length_filter with a stemmer chain is not "
                         "supported (pre/post-stem length ambiguity)")
    vals = texts.to_numpy(dtype=object)
    n_docs = len(vals)
    if not all(isinstance(s, str) for s in vals):
        vals = np.array([s if isinstance(s, str) else "" for s in vals],
                        dtype=object)
    # ASCII fast path: the token classes (\d, \w, [^\W\d]) are
    # case-symmetric and ASCII lower() is length-preserving, so
    # LowerCaseFilter commutes with tokenization — lower per *document*
    # (one C call each) instead of per token (millions).
    ascii_fast = lowercase and all(s.isascii() for s in vals)
    per_doc_lower = None   # set by the mixed-batch standard path below
    if isinstance(tokenizer, tuple) and tokenizer[0] == "pattern":
        # PatternTokenizer: match on the ORIGINAL text (LowerCaseFilter
        # is downstream of the tokenizer, and unlike the word-boundary
        # tokenizers a user pattern need not commute with lower())
        from .pattern import pattern_tokens
        ascii_fast = False
        cre = re.compile(tokenizer[1])
        grp = tokenizer[2]
        tok_lists = [pattern_tokens(s, cre, grp) for s in vals]
    elif tokenizer == "keyword":
        if ascii_fast:
            tok_lists = [[s.lower()] if s else [] for s in vals]
        else:
            tok_lists = [[s] if s else [] for s in vals]
    elif tokenizer == "url_email" or (
            isinstance(tokenizer, tuple) and tokenizer[0] == "url_email"):
        # UAX29URLEmailTokenizer: scan per doc (URL/EMAIL tokens are
        # case-preserving scans, so lowercase AFTER tokenization); the
        # tuple form composes TypeTokenFilter (keep-listed-types,
        # position gaps preserved) by dropping non-listed tokens AFTER
        # position assignment below
        from .urlemail import url_email_tokens
        ascii_fast = False
        if isinstance(tokenizer, tuple):
            _kt = frozenset(tokenizer[1:])
            tok_lists = [[t if ty in _kt else None
                          for t, ty in url_email_tokens(s)]
                         for s in vals]
        else:
            tok_lists = [[t for t, _ in url_email_tokens(s)]
                         for s in vals]
    elif tokenizer == "smartcn":
        # HMMChineseTokenizer: per-doc sentence split + HHMM Viterbi
        # (context-dependent — not vocabulary-factorizable); the
        # dictionaries are process-cached, so executors pay the load
        # once (the hunspell/beider-morse pattern)
        from .smartcn import tokenize as smartcn_tokenize
        ascii_fast = False
        tok_lists = [[t.text for t in smartcn_tokenize(s)] for s in vals]
    elif tokenizer == "icu":
        # ICUTokenizer: script-run segmentation + dictionary engines;
        # tables process-cached (same pattern as smartcn)
        from .icutokenizer import icu_tokenize
        ascii_fast = False
        tok_lists = [[t for (t, _s, _e, _ty, _sc) in icu_tokenize(s)]
                     for s in vals]
    else:
        findall = TOKENIZERS[tokenizer].findall
        if ascii_fast and tokenizer == "standard":
            no_joiner = _HAS_JOINER.search
            tok_lists = [
                s.translate(_SIMPLE_TBL).split()
                if no_joiner(s) is None else findall(s)
                for s in (v.lower() for v in vals)]
        elif ascii_fast:
            tok_lists = [findall(s.lower()) for s in vals]
        elif lowercase and tokenizer == "standard":
            # per-DOC ascii gate: one exotic doc must not drag the whole
            # batch onto the tokenize-then-lower slow path. ASCII docs
            # lower-then-tokenize (commutes) with the translate+split
            # fast path; non-ASCII docs tokenize raw and their tokens
            # lower downstream (LowerCaseFilter order preserved).
            per_doc_lower = np.zeros(n_docs, dtype=bool)
            no_joiner = _HAS_JOINER.search
            tok_lists = []
            for di, s in enumerate(vals):
                if s.isascii():
                    s = s.lower()
                    tok_lists.append(
                        s.translate(_SIMPLE_TBL).split()
                        if no_joiner(s) is None else findall(s))
                else:
                    per_doc_lower[di] = True
                    tok_lists.append(findall(s))
        else:
            tok_lists = [findall(s) for s in vals]
    counts = np.fromiter(map(len, tok_lists), np.int64, count=n_docs)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    total = doc_idx.size
    if total == 0:
        return (doc_idx, np.empty(0, dtype=object), np.empty(0, np.int64),
                np.zeros(n_docs, np.int64))
    flat = np.empty(total, dtype=object)
    i = 0
    for lst in tok_lists:
        flat[i:i + len(lst)] = lst
        i += len(lst)
    # position within doc BEFORE any filtering
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    positions = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    type_drop = None
    if isinstance(tokenizer, tuple) and tokenizer[0] == "url_email":
        # TypeTokenFilter drops (None placeholders): gap kept
        type_drop = np.array([t is None for t in flat])
        if type_drop.any():
            flat = np.where(type_drop, "", flat)
    # length filter (skip, position already consumed); token length is
    # identical pre/post lower on the ASCII path
    keep = np.fromiter(map(len, flat), np.int64,
                       count=total) <= max_token_length
    if type_drop is not None:
        keep &= ~type_drop
    if lowercase and not ascii_fast:
        if per_doc_lower is not None:
            # only the non-ASCII docs' tokens still need lowering
            mask = np.repeat(per_doc_lower, counts)
            if mask.any():
                flat = flat.copy()
                flat[mask] = pd.Series(flat[mask]).str.lower().to_numpy()
        else:
            flat = pd.Series(flat).str.lower().to_numpy()
    if ascii_folding:
        # vocabulary-level: fold each unique token once (the batch's
        # tokens repeat heavily), map back through factorize codes
        fcodes, funiq = pd.factorize(flat)
        folded_u = np.array([fold_to_ascii(u) for u in funiq],
                            dtype=object)
        flat = folded_u[fcodes]
    if icu_folding:
        # ICUFoldingFilter / ICUNormalizer2Filter, vocabulary-level
        from .icunorm import normalize as _icu_norm
        which = "utr30" if icu_folding is True else icu_folding
        icodes, iuniq = pd.factorize(flat)
        flat = np.array([_icu_norm(u, which) for u in iuniq],
                        dtype=object)[icodes]
    if elision is not None:
        # ElisionFilter before the stop filter (reference fr/it chains:
        # elision -> lowercase -> stop -> stem), vocabulary-level
        ecodes, euniq = pd.factorize(flat)
        elided_u = np.array([elide(u, elision) for u in euniq],
                            dtype=object)
        flat = elided_u[ecodes]
    if pattern_replace is not None:
        # PatternReplaceFilter after the normalizers, before the stop
        # filter; vocabulary-level (one regex pass per unique token);
        # emptied tokens are kept (reference behavior)
        from .pattern import pattern_replace_unique
        pcodes, puniq = pd.factorize(flat)
        flat = pattern_replace_unique(puniq, pattern_replace)[pcodes]
    tf_limit = None
    tf_pos_limit = None
    if token_filters:
        # generic chain (trim/truncate/keep/limit) — maps and the keep
        # predicate at vocabulary level; the limit applies at emission
        from .pattern import compile_token_filters
        tf_map, tf_keep, tf_limit, tf_pos_limit = \
            compile_token_filters(token_filters)
        if tf_pos_limit is not None:
            # LimitTokenPositionFilter: positions are 0-based here, the
            # reference's maxTokenPosition is 1-based (first token = 1)
            keep &= positions < tf_pos_limit
        if tf_map is not None:
            mcodes, muniq = pd.factorize(flat)
            flat = np.array([tf_map(u) for u in muniq],
                            dtype=object)[mcodes]
        if tf_keep is not None:
            kcodes, kuniq = pd.factorize(flat)
            keep &= np.array([tf_keep(u) for u in kuniq])[kcodes]
    if stemmer == "porter":
        # EnglishAnalyzer chain at VOCABULARY level: possessive strip →
        # stop filter → Porter stem, each computed once per unique token
        # and mapped back through the factorize codes.
        from .stem import porter_stem, strip_possessive
        codes, uniq = pd.factorize(flat)
        uniq_p = [strip_possessive(u) for u in uniq]
        if stopwords:
            stop_u = np.array([u in stopwords for u in uniq_p])
            keep &= ~stop_u[codes]
        stem_u = np.array(
            [u if u in keyword_marker          # SetKeywordMarkerFilter
             else (stemmer_override.get(u) or porter_stem(u))
             if stemmer_override is not None   # StemmerOverrideFilter
             else porter_stem(u)
             for u in uniq_p], dtype=object)
        flat = stem_u[codes]
    elif stemmer is not None:
        # per-language light/minimal chain at VOCABULARY level: stop
        # filter on the surface form, then stem each unique token once
        from .lightstem import LIGHT_STEMMERS
        light_stem = LIGHT_STEMMERS.get(stemmer)
        if light_stem is None:
            raise ValueError(f"unknown stemmer {stemmer!r}")
        codes, uniq = pd.factorize(flat)
        if stemmer == "greek":
            # GreekLowerCaseFilter folds BEFORE the stop filter
            # (el/GreekAnalyzer.java; the stop set ships folded)
            from .greekstem import greek_fold
            uniq = np.array([greek_fold(u) for u in uniq], dtype=object)
        if stopwords:
            stop_u = np.array([u in stopwords for u in uniq])
            keep &= ~stop_u[codes]
        stem_u = np.array(
            [u if u in keyword_marker          # SetKeywordMarkerFilter
             else (stemmer_override.get(u) or light_stem(u))
             if stemmer_override is not None   # StemmerOverrideFilter
             else light_stem(u)
             for u in uniq], dtype=object)
        flat = stem_u[codes]
    elif stopwords:
        keep &= ~pd.Series(flat).isin(stopwords).to_numpy()
    if length_filter is not None:
        # LengthFilter (miscellaneous/LengthFilter.java): drop tokens
        # outside [min, max], position gaps kept like StopFilter
        lens = np.fromiter(map(len, flat), np.int64, count=total)
        keep &= (lens >= length_filter[0]) & (lens <= length_filter[1])
    if tf_limit is not None and keep.any():
        # LimitTokenCountFilter: at most N surviving tokens per doc —
        # running per-doc rank over the keep mask, doc-major order
        kidx = np.flatnonzero(keep)
        kdocs = doc_idx[kidx]
        firsts = np.concatenate(([0], np.flatnonzero(np.diff(kdocs)) + 1))
        seq = np.arange(len(kdocs), dtype=np.int64)
        seq -= np.repeat(seq[firsts], np.diff(
            np.concatenate((firsts, [len(kdocs)]))))
        keep = keep.copy()
        keep[kidx[seq >= tf_limit]] = False
    terms = flat[keep]
    doc_idx_k = doc_idx[keep]
    positions_k = positions[keep]
    lengths = np.bincount(doc_idx_k, minlength=n_docs).astype(np.int64)
    return doc_idx_k, terms, positions_k, lengths


def expand_synonyms_text(terms, positions, synonyms):
    """SynonymGraphFilter at index time (reference ``analysis/common/.../
    synonym/SynonymGraphFilter.java:78``), single-token → single-token
    map with keepOrig: every synonym token is emitted AT THE SAME
    position as its source (posIncrement = 0 — an overlap token).
    Returns (terms, positions, n_overlap); FieldInvertState semantics:
    ``length`` counts every emitted token, ``numOverlap`` counts the
    posInc=0 ones (``index/FieldInvertState.java``), and BM25's
    discountOverlaps (default true, ``search/similarities/
    BM25Similarity.java:142-143``) subtracts them from the norm length.
    """
    out_t, out_p = list(terms), list(positions)
    n_overlap = 0
    for t, p in zip(terms, positions):
        for s in synonyms.get(t, ()):
            out_t.append(s)
            out_p.append(p)
            n_overlap += 1
    return out_t, out_p, n_overlap


def expand_common_grams_text(terms, positions, common,
                             sep: str = "_"):
    """Per-document CommonGramsFilter twin of
    :func:`expand_common_grams_batch`. Returns (terms, positions,
    n_overlap)."""
    out_t, out_p = list(terms), list(positions)
    n_over = 0
    for i in range(len(terms) - 1):
        if terms[i] in common or terms[i + 1] in common:
            out_t.append(terms[i] + sep + terms[i + 1])
            out_p.append(positions[i])
            n_over += 1
    return out_t, out_p, n_over


def expand_common_grams_batch(doc_idx, terms, positions, n_docs,
                              common, sep: str = "_"):
    """CommonGramsFilter at index time (reference ``analysis/common/.../
    commongrams/CommonGramsFilter.java``): for every pair of stream-
    adjacent tokens where EITHER is a common word, emit the
    ``left_right`` gram at the left token's position as a posInc=0
    overlap token (GRAM_TYPE, separator ``_``) — originals kept, so
    phrase-heavy stopword queries can hit the gram postings instead.
    Run this with an EMPTY stop set (the reference chains CommonGrams
    BEFORE StopFilter so common words still exist in the stream).
    Returns (doc_idx, terms, positions, overlaps_per_doc)."""
    total = len(terms)
    overlaps = np.zeros(n_docs, dtype=np.int64)
    if total < 2 or not common:
        return doc_idx, terms, positions, overlaps
    is_common = pd.Series(terms).isin(common).to_numpy()
    mask = (doc_idx[1:] == doc_idx[:-1]) \
        & (is_common[:-1] | is_common[1:])
    if not mask.any():
        return doc_idx, terms, positions, overlaps
    sel = np.nonzero(mask)[0]
    grams = terms[sel] + np.full(len(sel), sep, dtype=object) \
        + terms[sel + 1]
    add_d = doc_idx[sel]
    overlaps = np.bincount(add_d, minlength=n_docs).astype(np.int64)
    return (np.concatenate([doc_idx, add_d]),
            np.concatenate([terms, grams]),
            np.concatenate([positions, positions[sel]]),
            overlaps)


def common_grams_query_stream(tokens: list, common,
                              sep: str = "_") -> list:
    """CommonGramsQueryFilter role (reference ``analysis/common/.../
    commongrams/CommonGramsQueryFilter.java``): rewrite a query token
    sequence so adjacent pairs involving a common word become their
    ``left_right`` gram (at the left token's position) and unigrams
    survive only when no gram captured them; an isolated common word
    (no neighbours) stays a unigram. Returns [(term, position)] for a
    PhraseQuery with explicit positions against a common-grams index."""
    n = len(tokens)
    out = []
    in_gram = [False] * n
    for i in range(n - 1):
        if tokens[i] in common or tokens[i + 1] in common:
            out.append((tokens[i] + sep + tokens[i + 1], i))
            in_gram[i] = in_gram[i + 1] = True
    for i, t in enumerate(tokens):
        if not in_gram[i]:
            out.append((t, i))
    out.sort(key=lambda p: (p[1], p[0]))
    return out


def expand_shingles_text(terms, positions, min_size: int = 2,
                         max_size: int = 2, sep: str = " ",
                         filler: str = "_"):
    """Per-document ShingleFilter reference twin of
    :func:`expand_shingles_batch` (same emission semantics, plain
    loops). Returns (terms, positions, n_overlap)."""
    if min_size < 2 or max_size < min_size:
        raise ValueError("shingle sizes need 2 <= min_size <= max_size")
    out_t, out_p = list(terms), list(positions)
    n_over = 0
    for n in range(min_size, max_size + 1):
        for i in range(len(terms) - n + 1):
            parts = [terms[i]]
            for j in range(i + 1, i + n):
                parts.extend([filler] * (positions[j] - positions[j - 1] - 1))
                parts.append(terms[j])
            out_t.append(sep.join(parts))
            out_p.append(positions[i])
            n_over += 1
    return out_t, out_p, n_over


def expand_shingles_batch(doc_idx, terms, positions, n_docs,
                          min_size: int = 2, max_size: int = 2,
                          sep: str = " ", filler: str = "_"):
    """ShingleFilter at index time (reference ``analysis/common/.../
    shingle/ShingleFilter.java:61``), outputUnigrams=true (the default):
    every window of ``n`` consecutive stream tokens (min_size <= n <=
    max_size) within one document emits the sep-joined shingle AT the
    first component's position as a posIncrement=0 overlap token
    (posLength=n). Interior position holes (stopword gaps) contribute
    one FILLER_TOKEN (``_``) per missing position, like the reference's
    hole handling. outputUnigrams=false (where the first shingle at a
    position takes posInc=1) is not supported.

    Input stream must be doc-major and position-ascending per doc (the
    ``analyze_batch`` output order). Returns
    (doc_idx, terms, positions, overlaps_per_doc)."""
    if min_size < 2 or max_size < min_size:
        raise ValueError("shingle sizes need 2 <= min_size <= max_size")
    total = len(terms)
    overlaps = np.zeros(n_docs, dtype=np.int64)
    if total < 2:
        return doc_idx, terms, positions, overlaps
    # gap fillers between stream neighbours: positions diff - 1 holes
    same_doc = doc_idx[1:] == doc_idx[:-1]
    gaps = np.where(same_doc, positions[1:] - positions[:-1] - 1, 0)
    if not gaps.any():                      # no holes: one C-level fill
        mid = np.full(total - 1, sep, dtype=object)
    else:
        gap_lut = {int(g): sep + (filler + sep) * int(g)
                   for g in np.unique(gaps)}
        mid = np.array([gap_lut[int(g)] for g in gaps], dtype=object)

    extra_t, extra_d, extra_p = [], [], []
    # iteratively extend windows: cur[i] = shingle starting at token i
    cur = terms.astype(object, copy=True)
    valid = np.ones(total, dtype=bool)
    for n in range(2, max_size + 1):
        # window i spans stream tokens [i, i+n-1]
        can = valid[:total - n + 1].copy()
        can &= doc_idx[: total - n + 1] == doc_idx[n - 1:]
        head = cur[: total - n + 1]
        ext = head + mid[n - 2: total - 1] + terms[n - 1:]
        cur = np.empty(total, dtype=object)
        cur[: total - n + 1] = ext
        valid = np.zeros(total, dtype=bool)
        valid[: total - n + 1] = can
        if n >= min_size and can.any():
            sel = np.nonzero(can)[0]
            extra_t.append(ext[can])
            extra_d.append(doc_idx[sel])
            extra_p.append(positions[sel])
    if not extra_t:
        return doc_idx, terms, positions, overlaps
    add_d = np.concatenate(extra_d)
    overlaps = np.bincount(add_d, minlength=n_docs).astype(np.int64)
    return (np.concatenate([doc_idx, add_d]),
            np.concatenate([terms, np.concatenate(extra_t)]),
            np.concatenate([positions, np.concatenate(extra_p)]),
            overlaps)


def expand_synonyms_batch(doc_idx, terms, positions, n_docs, synonyms):
    """Columnar :func:`expand_synonyms_text` over a token batch. Returns
    (doc_idx, terms, positions, overlaps_per_doc) — appended synonym
    tokens carry their source position; downstream inversion lexsorts, so
    order is irrelevant."""
    overlaps = np.zeros(n_docs, dtype=np.int64)
    if len(terms) == 0 or not synonyms:
        return doc_idx, terms, positions, overlaps
    codes, uniq = pd.factorize(terms)
    extra_t, extra_d, extra_p = [], [], []
    for j, u in enumerate(uniq):
        reps = synonyms.get(u)
        if not reps:
            continue
        sel = codes == j
        d_sel, p_sel = doc_idx[sel], positions[sel]
        for s in reps:
            extra_t.append(np.full(len(d_sel), s, dtype=object))
            extra_d.append(d_sel)
            extra_p.append(p_sel)
    if not extra_t:
        return doc_idx, terms, positions, overlaps
    add_d = np.concatenate(extra_d)
    overlaps = np.bincount(add_d, minlength=n_docs).astype(np.int64)
    return (np.concatenate([doc_idx, add_d]),
            np.concatenate([terms, np.concatenate(extra_t)]),
            np.concatenate([positions, np.concatenate(extra_p)]),
            overlaps)


def _keyword_repeat_stem_fn(stemmer: str):
    """Resolve the stem transform for the KeywordRepeat chain. Porter is
    the bare PorterStemFilter (no possessive strip — that's an
    EnglishAnalyzer-specific pre-stop stage, not part of the documented
    lowercase → stop → KeywordRepeat → stem → RemoveDuplicates
    composition); greek is excluded because its fold runs pre-stop and
    rewrites the surface form the original copy should keep."""
    if stemmer == "porter":
        from .stem import porter_stem
        return porter_stem
    if stemmer == "greek":
        raise ValueError("keyword_repeat does not compose with the "
                         "greek chain (pre-stop surface folding)")
    from .lightstem import LIGHT_STEMMERS
    fn = LIGHT_STEMMERS.get(stemmer)
    if fn is None:
        raise ValueError(f"unknown stemmer {stemmer!r}")
    return fn


def expand_keyword_repeat_text(terms, positions, stemmer: str):
    """Single-stream twin of :func:`expand_keyword_repeat_batch`.
    Returns (terms, positions, n_overlap) with the stemmed copies
    appended (inversion lexsorts, so order is irrelevant)."""
    fn = _keyword_repeat_stem_fn(stemmer)
    out_t, out_p = list(terms), list(positions)
    n_over = 0
    for t, p in zip(terms, positions):
        s = fn(t)
        if s != t:
            out_t.append(s)
            out_p.append(p)
            n_over += 1
    return out_t, out_p, n_over


def expand_keyword_repeat_batch(doc_idx, terms, positions, n_docs,
                                stemmer: str):
    """KeywordRepeatFilter → StemFilter → RemoveDuplicatesTokenFilter
    (reference ``miscellaneous/KeywordRepeatFilter.java:30``,
    ``miscellaneous/RemoveDuplicatesTokenFilter.java:33``): every
    surviving token is emitted twice — the keyword-marked original keeps
    its position (posInc 1) and skips the stemmer, the second copy stems
    and lands as a posInc-0 overlap at the same position; the duplicate
    filter then drops the copy exactly when stemming was a no-op (same
    term at the same position). Vocabulary-level: the stem computes once
    per unique token.

    Returns (doc_idx, terms, positions, overlaps_per_doc) — overlap
    counts feed FieldInvertState.numOverlap, so discountOverlaps norms
    stay the surface-token count."""
    overlaps = np.zeros(n_docs, dtype=np.int64)
    fn = _keyword_repeat_stem_fn(stemmer)
    if len(terms) == 0:
        return doc_idx, terms, positions, overlaps
    codes, uniq = pd.factorize(terms)
    stem_u = np.array([fn(u) for u in uniq], dtype=object)
    diff = (stem_u != uniq)[codes]
    if not diff.any():
        return doc_idx, terms, positions, overlaps
    add_d = doc_idx[diff]
    overlaps = np.bincount(add_d, minlength=n_docs).astype(np.int64)
    return (np.concatenate([doc_idx, add_d]),
            np.concatenate([terms, stem_u[codes][diff]]),
            np.concatenate([positions, positions[diff]]),
            overlaps)


@dataclass(frozen=True)
class AnalyzerSpec:
    """One field's index-time analysis chain as one value: char filters,
    a tokenizer and the token filters after it (the role of the
    reference's ``Analyzer``, ``core/.../analysis/Analyzer.java:153,183``).
    The defaults are StandardAnalyzer with an empty stop set.

    Building a spec checks how its options combine, so a chain the build
    kernel cannot run fails where it is declared (on the driver, before
    any Spark job). Checks of a single value that need the data or a
    loaded table stay where the value is used: unknown tokenizer kinds
    and token-filter names, greek stemming under ``keyword_repeat`` and
    the delimited term-frequency suffix.

    Five options each select a whole tokenize/filter branch and are
    mutually exclusive: ``cjk_bigrams``, a path or ngram ``tokenizer``,
    ``word_delimiter``, ``capture_groups`` and ``keyword_repeat``. A
    branch's rules apply only when it is the branch selected.
    """

    stopwords: frozenset = frozenset()
    stemmer: str | None = None
    synonyms: dict | None = None
    discount_overlaps: bool = True
    payload_delimiter: str | None = None
    tokenizer: str | tuple = "standard"
    shingles: tuple | None = None
    ascii_folding: bool = False
    common_grams: frozenset | None = None
    elision: frozenset | None = None
    cjk_bigrams: int | None = None
    cjk_output_unigrams: bool = False
    ngrams: tuple | None = None
    ngram_edge: bool = False
    ngram_preserve_original: bool = False
    word_delimiter: int | None = None
    word_delimiter_protected: frozenset = frozenset()
    keyword_repeat: bool = False
    pattern_replace: tuple | None = None
    token_filters: tuple = ()
    dictionary_compound: frozenset | tuple | None = None
    capture_groups: tuple | None = None
    char_filters: tuple = ()
    reverse_tokens: bool = False
    term_freq_delimiter: str | None = None
    keyword_marker: frozenset = frozenset()
    stemmer_override: dict | None = None
    phonetic: tuple | None = None
    hunspell: tuple | None = None
    min_hash: tuple | None = None
    concatenate_graph: bool | tuple = False
    icu_folding: bool | str = False

    @property
    def whole_input_tokenizer(self) -> bool:
        """(Reverse)PathHierarchyTokenizer or a raw (Edge)NGramTokenizer:
        tokenizers that replace the whole filter chain."""
        t = self.tokenizer
        return t in ("path", "path_reverse") or (
            isinstance(t, tuple) and t[0] not in ("pattern", "url_email"))

    @property
    def plain(self) -> bool:
        """Only the stop set and the norm's overlap rule differ from the
        defaults: the chain ``analyze_text_offsets`` reproduces."""
        return replace(self, stopwords=frozenset(),
                       discount_overlaps=True) == AnalyzerSpec()

    def options(self) -> dict:
        """Every field but ``stopwords``, as ``invert_segment`` keywords."""
        return {f.name: getattr(self, f.name) for f in fields(self)
                if f.name != "stopwords"}

    def check_store_positions(self, store_positions: bool) -> None:
        """The one rule that involves an index option, not a chain one."""
        if self.term_freq_delimiter and store_positions:
            raise ValueError("delimited term frequencies require "
                             "store_positions=False (reference: "
                             "IndexOptions.DOCS_AND_FREQS only)")

    def __post_init__(self):
        selected = [name for name, on in (
            ("cjk_bigrams", self.cjk_bigrams is not None),
            (f"tokenizer={self.tokenizer!r}", self.whole_input_tokenizer),
            ("word_delimiter", self.word_delimiter is not None),
            ("capture_groups", self.capture_groups is not None),
            ("keyword_repeat", self.keyword_repeat)) if on]
        if len(selected) > 1:
            raise ValueError(" and ".join(selected) + " select different "
                             "analysis chains; set at most one")
        graph = (self.synonyms or self.shingles or self.common_grams
                 or self.payload_delimiter)
        rewriting = (self.stemmer or graph or self.ascii_folding
                     or self.icu_folding or self.elision)
        compound = self.dictionary_compound is not None
        ngrams = self.ngrams is not None
        phonetic = self.phonetic is not None
        if self.cjk_bigrams is not None:
            # bigrams are position-dependent graph tokens
            if rewriting or self.tokenizer != "standard":
                raise ValueError("cjk_bigrams is mutually exclusive with "
                                 "stemmer/synonyms/shingles/common_grams/"
                                 "ascii_folding/elision/payloads and "
                                 "non-standard tokenizers")
        elif self.whole_input_tokenizer:
            if rewriting or self.stopwords or self.ngrams:
                raise ValueError("path/ngram tokenizers are mutually "
                                 "exclusive with the token-filter chain "
                                 "(stopwords/stemmer/synonyms/shingles/"
                                 "common_grams/ascii_folding/elision/"
                                 "payloads/ngrams)")
        elif self.word_delimiter is not None:
            if rewriting or self.stopwords or ngrams:
                raise ValueError("word_delimiter is mutually exclusive with "
                                 "the other token filters")
            if self.tokenizer != "whitespace":
                raise ValueError("word_delimiter requires "
                                 "tokenizer='whitespace' (the reference "
                                 "pairs WDGF with a non-splitting tokenizer)")
        elif self.capture_groups is not None:
            if rewriting or self.stopwords or ngrams:
                raise ValueError("capture_groups is mutually exclusive with "
                                 "the other token filters")
        elif self.keyword_repeat:
            if self.stemmer is None:
                raise ValueError("keyword_repeat requires a stemmer")
            if graph or ngrams:
                raise ValueError("keyword_repeat is mutually exclusive with "
                                 "synonyms/shingles/common_grams/payloads/"
                                 "ngrams")
        # the stream-rewriting filters after the branch, in kernel order
        expanding = graph or compound or ngrams
        if self.concatenate_graph and (
                expanding or self.keyword_repeat or phonetic
                or self.min_hash is not None):
            raise ValueError("concatenate_graph is mutually exclusive "
                             "with the other stream-rewriting filters")
        if self.min_hash is not None and (
                expanding or self.keyword_repeat or phonetic):
            raise ValueError("min_hash is mutually exclusive with the "
                             "other stream-rewriting filters")
        if phonetic and (expanding or self.keyword_repeat):
            raise ValueError("phonetic is mutually exclusive with the "
                             "graph-expanding filters")
        if self.hunspell is not None and (
                expanding or self.keyword_repeat or phonetic):
            raise ValueError("hunspell is mutually exclusive with the "
                             "other graph-expanding filters")
        if self.term_freq_delimiter and expanding:
            raise ValueError("term_freq_delimiter is mutually exclusive "
                             "with synonyms/shingles/common_grams/"
                             "payloads/compound/ngrams")
        if self.reverse_tokens and self.payload_delimiter:
            raise ValueError("reverse_tokens is mutually exclusive with "
                             "payloads (the delimiter suffix would be "
                             "reversed away)")
        if self.payload_delimiter and self.synonyms:
            raise ValueError("payloads and index-time synonyms are "
                             "mutually exclusive")
        # graph overlays share the parallel token arrays
        if self.shingles and (self.synonyms or self.payload_delimiter):
            raise ValueError("shingles are mutually exclusive with "
                             "synonyms and payloads")
        if self.common_grams and (self.synonyms or self.payload_delimiter
                                  or self.shingles):
            raise ValueError("common_grams is mutually exclusive with "
                             "synonyms, payloads and shingles")
        if (compound or ngrams) and (self.synonyms or self.payload_delimiter
                                     or self.shingles or self.common_grams):
            raise ValueError(
                ("dictionary_compound" if compound else "the ngrams filter")
                + " is mutually exclusive with synonyms, payloads, "
                "shingles and common_grams")
