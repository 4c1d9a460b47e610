"""N-gram tokenization family + path-hierarchy tokenizers.

Reference semantics (``lucene/analysis/common/.../ngram/`` and
``.../path/``), re-expressed as columnar batch kernels that slot into the
existing Arrow build pipeline (no per-row Python UDFs on the Spark side —
these run inside the same ``mapInPandas`` segment-build task as the
analyzer):

* **NGramTokenFilter** (``ngram/NGramTokenFilter.java:98-146``): for each
  input token of codepoint length N, emit every contained gram of length
  ``minGram..maxGram``, ordered by start offset then increasing length
  ("abc" @1..3 → a, ab, abc, b, bc, c). All grams of one token share the
  token's POSITION — the first consumes the accumulated position
  increment, the rest are posInc=0 overlaps (``curPosIncr`` handoff at
  lines 108-134). A token shorter than minGram emits nothing and its
  increment accumulates into the next token's first gram (absolute
  positions are therefore preserved). ``preserveOriginal`` keeps
  too-short tokens (at their position) and appends the original after
  the grams of too-long tokens (posInc=0, line 136-142).
* **EdgeNGramTokenFilter** (``ngram/EdgeNGramTokenFilter.java:98-160``):
  same position/preserveOriginal contract, but only leading-edge prefixes
  of length ``minGram..min(maxGram, N)``.
* **NGramTokenizer** (``ngram/NGramTokenizer.java:138-200``): raw-stream
  grams over codepoints, emitted by increasing start offset then gram
  size, every gram posInc=1 (javadoc table). Default ``isTokenChar`` =
  everything (no pre-tokenization). ``EdgeNGramTokenizer`` = the
  ``edgesOnly`` flag: only grams whose previous char is a non-token char
  — with the default char class, only stream-leading prefixes.
* **PathHierarchyTokenizer** (``path/PathHierarchyTokenizer.java:
  112-170``): growing prefixes of a delimited path — one token per
  delimiter occurrence at index > 0 plus the full string, delimiters
  rewritten to ``replacement``, first token posInc=1 and the rest
  posInc=0 (all at one position). ``skip`` drops leading components.
* **ReversePathHierarchyTokenizer** (``path/ReversePathHierarchyTokenizer
  .java``): the full string plus every suffix starting after a delimiter
  (empty suffixes dropped), same one-position contract; ``skip`` drops
  trailing components (token end boundaries, delimiter-inclusive).

All token-set/position goldens in ``tests/test_ngram_path.py`` are
transcoded from the reference's TestNGramTokenFilter / TestNGramTokenizer /
TestEdgeNGramTokenFilter / TestPathHierarchyTokenizer /
TestReversePathHierarchyTokenizer fixtures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

__all__ = [
    "token_ngrams",
    "expand_ngrams_batch",
    "ngram_tokenize",
    "ngram_tokenize_batch",
    "path_tokenize",
    "path_tokenize_batch",
]


def token_ngrams(token: str, min_gram: int, max_gram: int,
                 preserve_original: bool = False,
                 edge: bool = False) -> list[str]:
    """Gram list for ONE input token, in the reference's emission order
    (NGramTokenFilter: start offset then length; EdgeNGramTokenFilter:
    increasing prefix length)."""
    _check_grams(min_gram, max_gram)
    n = len(token)
    if n < min_gram:
        return [token] if preserve_original else []
    out: list[str] = []
    if edge:
        for g in range(min_gram, min(max_gram, n) + 1):
            out.append(token[:g])
    else:
        for start in range(n - min_gram + 1):
            for g in range(min_gram, min(max_gram, n - start) + 1):
                out.append(token[start:start + g])
    if preserve_original and n > max_gram:
        out.append(token)
    return out


def _check_grams(min_gram: int, max_gram: int) -> None:
    if min_gram < 1:
        raise ValueError("minGram must be greater than zero")
    if min_gram > max_gram:
        raise ValueError("minGram must not be greater than maxGram")


def expand_ngrams_batch(doc_idx, terms, positions, n_docs: int,
                        min_gram: int, max_gram: int,
                        preserve_original: bool = False,
                        edge: bool = False):
    """(Edge)NGramTokenFilter over an analyzed token stream.

    Returns ``(doc_idx, terms, positions, lengths, overlaps)``. Every
    gram inherits its source token's absolute position; per doc,
    ``lengths`` counts source tokens that emitted at least one output
    (= tokens carrying posInc > 0 — the norm length under
    discountOverlaps) and ``overlaps`` counts the posInc=0 surplus
    (emitted - emitting), so ``lengths + overlaps`` = emitted tokens
    (FieldInvertState.length)."""
    _check_grams(min_gram, max_gram)
    total = len(terms)
    if total == 0:
        z = np.zeros(n_docs, np.int64)
        return doc_idx, terms, positions, z, z.copy()
    codes, uniq = pd.factorize(terms)
    gram_lists = [token_ngrams(u, min_gram, max_gram,
                               preserve_original, edge) for u in uniq]
    gram_counts_u = np.fromiter(map(len, gram_lists), np.int64,
                                count=len(uniq))
    flat = np.empty(int(gram_counts_u.sum()), dtype=object)
    offs_u = np.zeros(len(uniq), np.int64)
    i = 0
    for j, lst in enumerate(gram_lists):
        offs_u[j] = i
        flat[i:i + len(lst)] = lst
        i += len(lst)
    cnts = gram_counts_u[codes]
    out_total = int(cnts.sum())
    # gather: each occurrence expands to its unique token's gram slice
    starts_out = np.concatenate(([0], np.cumsum(cnts)[:-1]))
    idx = (np.arange(out_total, dtype=np.int64)
           - np.repeat(starts_out, cnts)
           + np.repeat(offs_u[codes], cnts))
    out_terms = flat[idx]
    out_doc = np.repeat(doc_idx, cnts)
    out_pos = np.repeat(positions, cnts)
    emitting = np.bincount(doc_idx[cnts > 0], minlength=n_docs) \
        .astype(np.int64)
    emitted = np.bincount(out_doc, minlength=n_docs).astype(np.int64)
    return out_doc, out_terms, out_pos, emitting, emitted - emitting


def ngram_tokenize(text: str, min_gram: int, max_gram: int,
                   edge: bool = False) -> list[str]:
    """Raw-stream (Edge)NGramTokenizer gram list: by increasing start
    offset, then gram size; each gram consumes one position (posInc=1,
    the javadoc table), so the returned index IS the position."""
    _check_grams(min_gram, max_gram)
    n = len(text)
    out: list[str] = []
    if edge:
        for g in range(min_gram, min(max_gram, n) + 1):
            out.append(text[:g])
    else:
        for start in range(n - min_gram + 1):
            for g in range(min_gram, min(max_gram, n - start) + 1):
                out.append(text[start:start + g])
    return out


def ngram_tokenize_batch(texts: pd.Series, min_gram: int, max_gram: int,
                         edge: bool = False, lowercase: bool = True):
    """Batch raw-stream gram tokenizer.

    Returns ``(doc_idx, terms, positions, lengths)`` shaped exactly like
    ``analyze_batch`` (posInc=1 per gram → sequential positions, no
    overlaps). Lowercase is applied to the document before gramming —
    per-codepoint fold, equivalent to LowerCaseFilter after the
    tokenizer on the charsets we index (same documented subset as the
    analyzer's per-document fast path)."""
    vals = texts.to_numpy(dtype=object)
    n_docs = len(vals)
    tok_lists = [ngram_tokenize(
        (s if isinstance(s, str) else "").lower() if lowercase
        else (s if isinstance(s, str) else ""), min_gram, max_gram, edge)
        for s in vals]
    counts = np.fromiter(map(len, tok_lists), np.int64, count=n_docs)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    total = int(counts.sum())
    flat = np.empty(total, dtype=object)
    i = 0
    for lst in tok_lists:
        flat[i:i + len(lst)] = lst
        i += len(lst)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    positions = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    return doc_idx, flat, positions, counts


def path_tokenize(text: str, delimiter: str = "/",
                  replacement: str | None = None, skip: int = 0,
                  reverse: bool = False) -> list[str]:
    """(Reverse)PathHierarchyTokenizer token list for one path.

    All tokens share ONE position (first posInc=1, rest posInc=0 —
    ``PathHierarchyTokenizer.java:112-118``)."""
    if skip < 0:
        raise ValueError("skip cannot be negative")
    if len(delimiter) != 1 or (replacement is not None
                               and len(replacement) != 1):
        raise ValueError("delimiter/replacement must be single chars")
    repl = delimiter if replacement is None else replacement
    if not text:
        return []
    delims = [i for i, ch in enumerate(text) if ch == delimiter]
    if reverse:
        # token END boundaries: after each delimiter, plus EOF when the
        # path doesn't end with the delimiter; skip=k truncates to the
        # (k+1)-th boundary from the end
        ends = [d + 1 for d in delims]
        if not text.endswith(delimiter):
            ends.append(len(text))
        if skip >= len(ends):
            return []
        t = text[:ends[-(skip + 1)]]
        toks = [t] + [t[d + 1:] for d in delims
                      if d + 1 < len(t) and t[d + 1:]]
    else:
        # skip=k drops the leading k components: the stream restarts at
        # the matching delimiter (leading delimiter counts as one)
        if skip:
            lead = 1 if text[0] == delimiter else 0
            need = skip - 1 + lead
            if need >= len(delims):
                return []
            base = delims[need]
            text = text[base:]
            delims = [d - base for d in delims if d >= base]
        toks = [text[:d] for d in delims if d > 0] + [text]
    if repl != delimiter:
        toks = [tk.replace(delimiter, repl) for tk in toks]
    return toks


def path_tokenize_batch(texts: pd.Series, delimiter: str = "/",
                        replacement: str | None = None, skip: int = 0,
                        reverse: bool = False, lowercase: bool = True):
    """Batch path tokenizer.

    Returns ``(doc_idx, terms, positions, lengths, overlaps)``: every
    token of a path sits at position 0 (one-position stream), so
    ``lengths`` is 1 for any path that emitted tokens (norm length under
    discountOverlaps) and ``overlaps`` = token_count - 1."""
    vals = texts.to_numpy(dtype=object)
    n_docs = len(vals)
    tok_lists = [path_tokenize(
        (s if isinstance(s, str) else "").lower() if lowercase
        else (s if isinstance(s, str) else ""),
        delimiter, replacement, skip, reverse) for s in vals]
    counts = np.fromiter(map(len, tok_lists), np.int64, count=n_docs)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
    total = int(counts.sum())
    flat = np.empty(total, dtype=object)
    i = 0
    for lst in tok_lists:
        flat[i:i + len(lst)] = lst
        i += len(lst)
    positions = np.zeros(total, dtype=np.int64)
    lengths = (counts > 0).astype(np.int64)
    overlaps = counts - lengths
    return doc_idx, flat, positions, lengths, overlaps
