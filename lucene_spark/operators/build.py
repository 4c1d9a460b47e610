"""Distributed segment build: the index write path.

Spark shape (SURVEY.md §3.1): one shuffle places every document straight
into its segment's partition — partition ``i`` is the build's ``i``-th
segment id, named by :meth:`SnapshotCatalog.allocate`; the reference's
DWPT model, where each task owns a private segment and takes no locks
(``index/DocumentsWriter.java:60-66``).
A vectorized ``mapInPandas`` kernel per partition then hashes each doc's
content and performs the whole tokenize → invert → delta/FOR/VByte-encode
chain (``index/IndexingChain.java:577-1309`` + ``codecs/lucene90/
Lucene90PostingsWriter.java:219-427``), and flushes an immutable segment
directory. The driver then atomically commits a snapshot listing every
segment with its lineage metrics (``index/IndexWriter.java:3849``).

Scale design notes (100 TB / 1000 executors):
  * exactly ONE wide shuffle of the raw documents, ``repartitionById`` on
    ``pmod(doc_id, N)``: each segment is exactly one task, so no partition
    holds two segments while another idles (a hash partitioner puts 16
    segment ids on only 10 of 16 partitions), and adaptive execution never
    coalesces the fixed partition count. All per-token work happens
    map-side inside the segment kernel — the token-level explode/groupBy
    never hits the shuffle, so near-universal terms (``if``, ``return``)
    cannot create reducer skew here.
  * the JVM side only computes the segment key; the content's sha256 is
    computed in the kernel, which already holds the text, so the input
    stage before the shuffle does no per-doc work of its own.
  * segment count is a knob: size segments so one fits executor memory
    (reference slices ~250k docs: ``search/IndexSearcher.java:95-97``).
  * resume is keyed: a build that names a ``build_id`` resumes onto the
    segment ids its first call claimed, and filters away its already-built
    segments BEFORE the shuffle, so resuming a 95%-complete build shuffles
    only the missing 5%. A build without a key appends fresh segments.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa

from ..functions.analysis import AnalyzerSpec, analyze_batch
from ..functions.codec import (norms_row, norms_table, postings_rows,
                               postings_table)
from ..functions.smallfloat import int_to_byte4
from ..sources.catalog import SnapshotCatalog, publish

SEG_COL = "__seg__"
SHA_COL = "sha256"

STATS_SCHEMA = ("seg_id int, num_docs long, num_terms long, num_postings long, "
                "sum_doc_len long, sum_token_len long, "
                "bytes_compressed long, build_partition int, "
                "status string")
STATS_COLUMNS = [f.split()[0] for f in STATS_SCHEMA.split(", ")]

def write_segment_file(table: pa.Table, path: str) -> None:
    """Write one parquet file of a segment, built or merged alike: no
    pandas metadata, dictionary pages only for flat columns that repeat
    values, and no min/max statistics on binary columns (the postings
    blobs would fill the footer)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    pq.write_table(
        table.replace_schema_metadata(None), path,
        use_dictionary=[f.name for f in table.schema
                        if not pa.types.is_nested(f.type)
                        and 2 * pc.count_distinct(table[f.name]).as_py()
                        < table.num_rows],
        write_statistics=[f.name for f in table.schema
                          if not pa.types.is_binary(f.type)])


def invert_segment(pdf: pd.DataFrame, seg_id: int, content_col: str,
                   doc_id_col: str, stopwords: frozenset,
                   store_positions: bool, *,
                   sort_field: str | None = None,
                   sort_ascending: bool = True,
                   **chain) -> tuple[pd.DataFrame, pd.DataFrame, dict, int]:
    """Pure kernel: docs of one segment →
    (postings, doc_meta, norms_payload, sum_token_len).

    Local docIDs are assigned by ascending ``doc_id`` within the segment
    (deterministic stand-in for the reference's arrival order,
    ``index/IndexingChain.java:577``).

    ``synonyms`` enables index-time SynonymGraphFilter expansion
    (keepOrig single-token map, posIncrement=0 overlap tokens);
    ``discount_overlaps`` is BM25Similarity's default-true norm rule —
    overlap tokens are indexed (tf/df/ttf/positions) but subtracted from
    the norm length (``BM25Similarity.java:142-143``). sum_token_len
    counts EVERY indexed token (the sumTotalTermFreq basis), diverging
    from sum_doc_len exactly when overlaps are discounted.

    ``chain`` holds the other :class:`AnalyzerSpec` options as keywords.
    """
    spec = AnalyzerSpec(stopwords=stopwords, **chain)
    spec.check_store_positions(store_positions)
    if sort_field is not None:
        # IndexSorter (reference ``index/IndexSorter.java:44``): local doc
        # ids follow the sort key, so a sorted-field top-k reads only each
        # segment's physical prefix (early termination); global doc_id
        # remains the tie-break within equal keys
        pdf = pdf.sort_values([sort_field, doc_id_col],
                              ascending=[sort_ascending, True],
                              kind="mergesort").reset_index(drop=True)
    else:
        pdf = pdf.sort_values(doc_id_col,
                              kind="mergesort").reset_index(drop=True)
    # object-dtype null-fill: avoids the pandas StringDtype conversion
    # (a full validate+copy pass) — every consumer reads the values back
    # out as an object ndarray anyway
    texts = pdf[content_col].to_numpy(dtype=object, copy=True)
    texts[pd.isna(texts)] = ""
    if spec.char_filters:
        # Analyzer.initReader: char filters rewrite the raw text BEFORE
        # the tokenizer (charfilter/HTMLStripCharFilter.java,
        # MappingCharFilter.java) — one pass per doc inside this batch
        from ..functions.charfilter import compile_char_filters
        _cf = compile_char_filters(spec.char_filters)
        texts = np.array([_cf(s) for s in texts], dtype=object)
    texts = pd.Series(texts)
    n_docs = len(pdf)
    if spec.cjk_bigrams is not None:
        # CJKAnalyzer chain (tokenize → width → lowercase → bigram →
        # stop); bigrams are position-dependent graph tokens, mutually
        # exclusive with every token-rewriting/expanding option
        from ..functions.cjk import cjk_analyze_batch
        doc_idx, terms, positions, lengths, cjk_over = cjk_analyze_batch(
            pd.Series(texts.to_numpy(dtype=object)),
            stopwords=spec.stopwords, flags=spec.cjk_bigrams,
            output_unigrams=spec.cjk_output_unigrams)
    elif spec.whole_input_tokenizer:
        # (Reverse)PathHierarchyTokenizer / raw (Edge)NGramTokenizer —
        # whole-input tokenizers that replace the analysis chain; the
        # stream-rewriting filters don't compose with them
        from ..functions.ngram import (ngram_tokenize_batch,
                                       path_tokenize_batch)
        texts_ser = pd.Series(texts.to_numpy(dtype=object))
        if spec.tokenizer in ("path", "path_reverse"):
            doc_idx, terms, positions, lengths, cjk_over = \
                path_tokenize_batch(
                    texts_ser, reverse=(spec.tokenizer == "path_reverse"))
        else:
            kind, mn, mx = spec.tokenizer
            if kind not in ("ngram", "edge_ngram"):
                raise ValueError(f"unknown tokenizer {spec.tokenizer!r}")
            doc_idx, terms, positions, lengths = ngram_tokenize_batch(
                texts_ser, mn, mx, edge=(kind == "edge_ngram"))
            cjk_over = np.zeros(n_docs, dtype=np.int64)
    elif spec.word_delimiter is not None:
        # WordDelimiterGraphFilter chain (reference recommendation:
        # whitespace tokenize -> WDGF -> lowercase; case information
        # drives the splits, so LowerCaseFilter comes AFTER)
        from ..functions.worddelim import expand_worddelim_batch
        doc_idx, terms, positions, lengths = analyze_batch(
            pd.Series(texts.to_numpy(dtype=object)),
            tokenizer="whitespace", lowercase=False)
        doc_idx, terms, positions, lengths, cjk_over = \
            expand_worddelim_batch(doc_idx, terms, positions, n_docs,
                                   spec.word_delimiter,
                                   spec.word_delimiter_protected)
        if len(terms):
            codes, uniq = pd.factorize(terms)
            terms = np.array([u.lower() for u in uniq],
                             dtype=object)[codes]
    elif spec.capture_groups is not None:
        # PatternCaptureGroupTokenFilter chain (reference composition:
        # tokenize -> captures -> lowercase — case information drives
        # the camelCase patterns, so LowerCaseFilter comes AFTER)
        from ..functions.pattern import expand_capture_groups_batch
        patterns, preserve_original = spec.capture_groups
        doc_idx, terms, positions, lengths = analyze_batch(
            pd.Series(texts.to_numpy(dtype=object)),
            tokenizer=spec.tokenizer, lowercase=False)
        doc_idx, terms, positions, cjk_over = expand_capture_groups_batch(
            doc_idx, terms, positions, n_docs, patterns,
            preserve_original)
        if len(terms):
            codes, uniq = pd.factorize(terms)
            terms = np.array([u.lower() for u in uniq],
                             dtype=object)[codes]
    elif spec.keyword_repeat:
        # KeywordRepeatFilter chain (lowercase → stop → KeywordRepeat →
        # stem → RemoveDuplicates): analyze WITHOUT the stemmer so the
        # original surface form survives, then add stemmed posInc-0
        # overlaps where stemming changed the token
        from ..functions.analysis import expand_keyword_repeat_batch
        doc_idx, terms, positions, lengths = analyze_batch(
            pd.Series(texts.to_numpy(dtype=object)),
            stopwords=spec.stopwords,
            tokenizer=spec.tokenizer,
            ascii_folding=spec.ascii_folding,
            icu_folding=spec.icu_folding,
            elision=spec.elision,
            pattern_replace=spec.pattern_replace,
            token_filters=spec.token_filters)
        doc_idx, terms, positions, cjk_over = expand_keyword_repeat_batch(
            doc_idx, terms, positions, n_docs, spec.stemmer)
    else:
        doc_idx, terms, positions, lengths = analyze_batch(
            pd.Series(texts.to_numpy(dtype=object)),
            stopwords=spec.stopwords,
            stemmer=spec.stemmer,
            tokenizer=spec.tokenizer,
            ascii_folding=spec.ascii_folding,
            icu_folding=spec.icu_folding,
            elision=spec.elision,
            pattern_replace=spec.pattern_replace,
            token_filters=spec.token_filters,
            keyword_marker=spec.keyword_marker,
            stemmer_override=spec.stemmer_override)
        cjk_over = np.zeros(n_docs, dtype=np.int64)
    if spec.concatenate_graph:
        # ConcatenateGraphFilter (miscellaneous/ConcatenateGraphFilter
        # .java): the whole surviving stream becomes ONE token, tokens
        # joined by SEP_LABEL (U+001F) with one extra separator per
        # skipped position when preserve_position_increments (the
        # TokenStreamToAutomaton hole encoding) — the CompletionAnalyzer
        # key shape. concatenate_graph = True or (sep, preserve_posinc).
        sep, preserve_inc = ("\u001f", True)
        if isinstance(spec.concatenate_graph, tuple):
            sep, preserve_inc = spec.concatenate_graph
        out_d, out_t = [], []
        lengths = np.zeros(n_docs, dtype=np.int64)
        if len(terms):
            order = np.lexsort((positions, doc_idx))
            d_s, t_s, p_s = (doc_idx[order], terms[order],
                             positions[order])
            bounds = np.concatenate(
                ([0], np.flatnonzero(np.diff(d_s)) + 1, [len(d_s)]))
            for a, b in zip(bounds[:-1], bounds[1:]):
                doc = int(d_s[a])
                parts = [t_s[a]]
                for j in range(a + 1, b):
                    gap = int(p_s[j] - p_s[j - 1]) if preserve_inc else 1
                    parts.append(sep * max(gap, 1))
                    parts.append(t_s[j])
                out_d.append(doc)
                out_t.append("".join(parts))
                lengths[doc] = 1
        doc_idx = np.array(out_d, dtype=np.int64)
        terms = np.array(out_t, dtype=object)
        positions = np.zeros(len(out_d), dtype=np.int64)
    if spec.min_hash is not None:
        # MinHashFilter pipeline (analysis/minhash/MinHashFilter.java):
        # k-shingle the analyzed stream (ShingleFilter with
        # outputUnigrams=false, space separator), then collapse each doc
        # into its MinHash token set — all at position 0 (posInc 1 then
        # 0), so norms see length 1 and the overlays count only into
        # sumTotalTermFreq. min_hash = (k, hash_count, bucket_count,
        # hash_set_size, with_rotation).
        from ..functions.minhash import expand_minhash_batch
        k, hc, bc, hss, rot = spec.min_hash
        doc_idx, terms, positions, lengths, mh_over = \
            expand_minhash_batch(doc_idx, terms, positions, n_docs,
                                 int(k), int(hc), int(bc), int(hss), rot)
        cjk_over = cjk_over + mh_over
    if spec.phonetic is not None:
        # PhoneticFilter (reference ``analysis/phonetic/PhoneticFilter
        # .java``): phonetic = (encoder_name, inject). inject=True emits
        # the encoding as a posInc=0 overlay beside the original (norm
        # discount like every overlay); inject=False replaces the term.
        phonetic = spec.phonetic
        enc_name = phonetic[0]
        inject = phonetic[1] if len(phonetic) > 1 else True
        if enc_name == "double_metaphone_filter":
            # DoubleMetaphoneFilter.java: primary + distinct alternate
            # as overlay tokens; phonetic = (name, inject, maxCodeLen).
            from ..functions.phonetic import double_metaphone_batch
            mcl = int(phonetic[2]) if len(phonetic) > 2 else 4
            doc_idx, terms, positions, ph_over = double_metaphone_batch(
                doc_idx, terms, positions, n_docs, mcl, inject)
            cjk_over = cjk_over + ph_over
        elif enc_name == "beider_morse":
            # BeiderMorseFilter.java: the encoded form's ([^()|-]+)
            # groups replace the token (first at the source position,
            # rest posInc=0). phonetic = ("beider_morse", name_type,
            # rule_type, concat, languages|None).
            from ..functions.beidermorse import beider_morse_batch
            nt = phonetic[1] if len(phonetic) > 1 else "generic"
            rt = phonetic[2] if len(phonetic) > 2 else "approx"
            cc = phonetic[3] if len(phonetic) > 3 else True
            lg = phonetic[4] if len(phonetic) > 4 else None
            doc_idx, terms, positions, ph_over = beider_morse_batch(
                doc_idx, terms, positions, n_docs, nt, rt, cc, lg)
            cjk_over = cjk_over + ph_over
        elif enc_name == "daitch_mokotoff_filter":
            # DaitchMokotoffSoundexFilter.java: every '|' branch of the
            # branching encoder becomes an overlay token.
            from ..functions.phonetic import daitch_mokotoff_batch
            doc_idx, terms, positions, ph_over = daitch_mokotoff_batch(
                doc_idx, terms, positions, n_docs, inject)
            cjk_over = cjk_over + ph_over
        elif inject:
            from ..functions.phonetic import expand_phonetic_batch
            doc_idx, terms, positions, ph_over = expand_phonetic_batch(
                doc_idx, terms, positions, n_docs, enc_name)
            cjk_over = cjk_over + ph_over
        else:
            from ..functions.phonetic import replace_phonetic_batch
            terms = replace_phonetic_batch(terms, enc_name)
    if spec.hunspell is not None:
        # HunspellStemFilter (reference ``analysis/hunspell/
        # HunspellStemFilter.java``): stems replace the token (first at
        # the source position, the rest posInc=0 overlays; stemless
        # tokens pass through). hunspell = (aff_path, dic_path[, dedup
        # [, longest_only[, ignore_case]]]) — the dictionary files must
        # be reachable from every executor (ship via --files at scale).
        from ..functions.hunspell import hunspell_stem_batch
        hunspell = spec.hunspell
        aff_p, dic_p = hunspell[0], hunspell[1]
        dd = hunspell[2] if len(hunspell) > 2 else True
        lo = hunspell[3] if len(hunspell) > 3 else False
        ic = hunspell[4] if len(hunspell) > 4 else False
        doc_idx, terms, positions, hs_over = hunspell_stem_batch(
            doc_idx, terms, positions, n_docs, aff_p, dic_p,
            dedup=dd, longest_only=lo, ignore_case=ic)
        cjk_over = cjk_over + hs_over
    if spec.term_freq_delimiter:
        # DelimitedTermFrequencyTokenFilter (reference ``analysis/common/
        # .../miscellaneous/DelimitedTermFrequencyTokenFilter.java``):
        # split each token at the LAST delimiter, the integer suffix is
        # the token's term frequency (default 1 without a delimiter).
        # The reference requires an index without positions
        # (IndexOptions.DOCS_AND_FREQS — the factory rejects more) and a
        # non-splitting tokenizer; the custom freq feeds BOTH the
        # postings tf and the field length the norm encodes
        # (FieldInvertState.length += termFrequency). Kernel shape:
        # repeat each token freq times — the run-length inversion then
        # produces exactly those tf/dl sums.
        if len(terms):
            ser = pd.Series(terms)
            parts = ser.str.rpartition(spec.term_freq_delimiter)
            has = (parts[1] == spec.term_freq_delimiter).to_numpy()
            vals = pd.to_numeric(parts[2], errors="coerce").to_numpy()
            bad = has & (~np.isfinite(vals) | (vals < 0)
                         | (vals != np.floor(vals)))
            if bad.any():
                # the reference's NumberFormatException surface
                raise ValueError("invalid term frequency suffix: "
                                 f"{terms[bad][:3].tolist()}")
            freqs = np.ones(len(terms), dtype=np.int64)
            freqs[has] = vals[has].astype(np.int64)
            terms = np.where(has, parts[0].to_numpy(dtype=object), terms)
            doc_idx = np.repeat(doc_idx, freqs)
            terms = np.repeat(terms, freqs)
            positions = np.repeat(positions, freqs)
            lengths = np.bincount(doc_idx, minlength=n_docs) \
                .astype(np.int64)
    if spec.reverse_tokens and len(terms):
        # ReverseStringFilter (reference ``analysis/common/.../reverse/
        # ReverseStringFilter.java``): reverse every final token. With a
        # reversed dictionary a leading wildcard (*suffix) becomes a
        # PREFIX query — range-bucket-prunable against term_stats instead
        # of a full dictionary scan (the Solr ReversedWildcardFilter
        # deployment pattern: a parallel reversed field). Python reverses
        # code points, which equals the reference's surrogate-aware
        # UTF-16 reverse. Vocabulary-level: each unique token reversed
        # once.
        codes, uniq = pd.factorize(terms)
        terms = np.array([u[::-1] for u in uniq], dtype=object)[codes]
    payloads = None
    if spec.payload_delimiter:
        # DelimitedPayloadTokenFilter + FloatEncoder (reference
        # ``analysis/common/.../payloads/DelimitedPayloadTokenFilter
        # .java``): split each token at the LAST delimiter; the suffix
        # parses as a float32 payload, the prefix is the term. Tokens
        # without a delimiter carry payload 0.0 (documented: the
        # reference leaves the payload absent; 0.0 is the identity for
        # the sum/avg functions we score with). Pair with the
        # whitespace tokenizer like the reference does — Standard
        # tokenization would split at the delimiter.
        ser = pd.Series(terms)
        parts = ser.str.rpartition(spec.payload_delimiter)
        has = (parts[1] == spec.payload_delimiter).to_numpy()
        stripped = parts[0].to_numpy(dtype=object)
        terms = np.where(has, stripped, terms)
        payloads = np.zeros(len(terms), dtype=np.float32)
        vals = pd.to_numeric(parts[2], errors="coerce") \
            .fillna(0.0).to_numpy()
        payloads[has] = vals[has].astype(np.float32)
    if spec.synonyms:
        from ..functions.analysis import expand_synonyms_batch
        doc_idx, terms, positions, overlaps = expand_synonyms_batch(
            doc_idx, terms, positions, n_docs, spec.synonyms)
    else:
        overlaps = np.zeros(n_docs, dtype=np.int64)
    if spec.shingles:
        # index-time ShingleFilter (outputUnigrams=true): shingle tokens
        # are posInc=0 overlaps at the first component's position —
        # mutually exclusive with synonyms (graph streams) and payloads
        # (parallel array alignment)
        from ..functions.analysis import expand_shingles_batch
        mn, mx = spec.shingles
        doc_idx, terms, positions, sh_over = expand_shingles_batch(
            doc_idx, terms, positions, n_docs, mn, mx)
        overlaps = overlaps + sh_over
    if spec.common_grams:
        # CommonGramsFilter: like shingles but only around common words,
        # '_' separator; same mutual-exclusion rules
        from ..functions.analysis import expand_common_grams_batch
        doc_idx, terms, positions, cg_over = expand_common_grams_batch(
            doc_idx, terms, positions, n_docs, spec.common_grams)
        overlaps = overlaps + cg_over
    if spec.dictionary_compound is not None:
        # DictionaryCompoundWordTokenFilter (compound/
        # DictionaryCompoundWordTokenFilter.java): subword overlays at
        # the source position — same graph shape as synonyms/shingles,
        # same mutual-exclusion rules (parallel array alignment)
        from ..functions.compound import expand_compound_batch
        doc_idx, terms, positions, dc_over = expand_compound_batch(
            doc_idx, terms, positions, n_docs, spec.dictionary_compound)
        overlaps = overlaps + dc_over
    if spec.ngrams is not None:
        # (Edge)NGramTokenFilter last in the chain (the reference's
        # usual composition); replaces per-doc lengths with emitting-
        # token counts (= posInc>0 tokens, the discountOverlaps norm)
        from ..functions.ngram import expand_ngrams_batch
        mn, mx = spec.ngrams
        doc_idx, terms, positions, lengths, ng_over = expand_ngrams_batch(
            doc_idx, terms, positions, n_docs, mn, mx,
            preserve_original=spec.ngram_preserve_original,
            edge=spec.ngram_edge)
        overlaps = overlaps + ng_over
    overlaps = overlaps + cjk_over
    total_lengths = lengths + overlaps
    norm_lengths = lengths if spec.discount_overlaps else total_lengths
    sum_token_len = int(total_lengths.sum())
    norm_bytes = int_to_byte4(norm_lengths)

    # term order = sorted unicode order (FreqProxTermsWriter.flush sorts
    # terms before the codec sees them: index/FreqProxTermsWriter.java:83)
    codes, uniques = pd.factorize(terms, sort=True)
    order = np.lexsort((positions, doc_idx, codes))
    c, d, p = codes[order], doc_idx[order], positions[order]
    # posting boundaries: change of (term, doc)
    new_post = np.ones(len(c), dtype=bool)
    new_post[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
    post_starts = np.nonzero(new_post)[0]
    tfs_all = np.diff(np.append(post_starts, len(c))).astype(np.int64)
    post_docs = d[post_starts]
    post_codes = c[post_starts]
    # term boundaries over postings
    new_term = np.ones(len(post_codes), dtype=bool)
    new_term[1:] = post_codes[1:] != post_codes[:-1]
    term_starts = np.nonzero(new_term)[0]
    term_off = np.append(term_starts, len(post_codes))
    # payloads: a raw float32 stream parallel to the position stream,
    # doc-major (FloatEncoder payloads are uncompressed 4-byte values in
    # the reference too)
    postings = postings_rows(
        uniques[post_codes[term_starts]], seg_id, post_docs, tfs_all,
        p if store_positions else None,
        None if payloads is None else payloads[order], norm_bytes, term_off)

    doc_meta = pdf.drop(columns=[content_col, SEG_COL], errors="ignore").copy()
    doc_meta.insert(0, "seg_id", np.int32(seg_id))
    doc_meta.insert(1, "local_doc_id", np.arange(n_docs, dtype=np.int32))
    doc_meta["doc_len"] = norm_lengths
    doc_meta["norm_byte"] = norm_bytes.astype(np.int32)

    return (postings, doc_meta, norms_row(seg_id, norm_bytes, pdf[doc_id_col]),
            sum_token_len)


def _write_segment(catalog_root: str, seg_id: int, postings: pd.DataFrame,
                   doc_meta: pd.DataFrame, norms_payload: dict,
                   build_partition: int, origin: str = "build",
                   sum_token_len: int | None = None) -> dict:
    """Publish one immutable segment dir. A retried Spark task that lost
    the publish to an earlier attempt of itself reuses the winner's
    ``stats.json``, with status ``reused``."""
    seg_dir = os.path.join(catalog_root, "segments", f"seg={seg_id}")
    postings_tbl, bytes_compressed = postings_table(postings)
    stats = {
        "seg_id": int(seg_id),
        "num_docs": int(norms_payload["num_docs"]),
        "num_terms": int(len(postings)),
        "num_postings": int(postings["df"].sum()) if len(postings) else 0,
        "sum_doc_len": int(doc_meta["doc_len"].sum()) if len(doc_meta) else 0,
        "sum_token_len": int(sum_token_len) if sum_token_len is not None
        else (int(doc_meta["doc_len"].sum()) if len(doc_meta) else 0),
        "bytes_compressed": bytes_compressed,
        "build_partition": int(build_partition),
        "origin": origin,
        "status": "built",
    }
    try:
        with publish(seg_dir) as tmp:
            os.makedirs(tmp)
            write_segment_file(postings_tbl,
                               os.path.join(tmp, "postings.parquet"))
            write_segment_file(
                pa.Table.from_pandas(doc_meta, preserve_index=False),
                os.path.join(tmp, "doc_meta.parquet"))
            write_segment_file(norms_table(norms_payload),
                               os.path.join(tmp, "norms.parquet"))
            with open(os.path.join(tmp, "stats.json"), "w") as f:
                json.dump(stats, f)
    except FileExistsError:
        with open(os.path.join(seg_dir, "stats.json")) as f:
            stats = json.load(f)
        stats["status"] = "reused"
    return stats


def _write_term_vectors(catalog_root: str, seg_id: int, pdf: pd.DataFrame,
                        content_col: str, doc_id_col: str,
                        stopwords: frozenset) -> None:
    """Per-doc analyzed (terms, starts, ends) offset sidecar, one parquet
    file per build segment under <index>/term_vectors/, keyed by GLOBAL
    doc_id (seg_id kept so readers can latest-win across updateDocument
    generations). Executor-written through :func:`publish` before the
    segment's own publish, so a published segment always has its vectors;
    a file already there (a retried task's) stands."""
    import pyarrow.parquet as pq

    from ..functions.analysis import analyze_text_offsets

    tv_dir = os.path.join(catalog_root, "term_vectors")
    os.makedirs(tv_dir, exist_ok=True)
    final = os.path.join(tv_dir, f"seg-{seg_id}.parquet")
    rows_t, rows_s, rows_e = [], [], []
    for text in pdf[content_col]:
        t, s, e = analyze_text_offsets(text or "", stopwords=stopwords)
        rows_t.append(t)
        rows_s.append(s)
        rows_e.append(e)
    tbl = pa.table({
        "doc_id": pa.array(pdf[doc_id_col].astype("int64"), pa.int64()),
        "seg_id": pa.array(np.full(len(pdf), seg_id, np.int32), pa.int32()),
        "terms": pa.array(rows_t, pa.list_(pa.string())),
        "starts": pa.array(rows_s, pa.list_(pa.int32())),
        "ends": pa.array(rows_e, pa.list_(pa.int32())),
    })
    with contextlib.suppress(FileExistsError), publish(final) as tmp:
        pq.write_table(tbl, tmp)


def _make_builder(catalog_root: str, content_col: str, doc_id_col: str,
                  spec: AnalyzerSpec, store_positions: bool,
                  sort_field: str | None, sort_ascending: bool,
                  store_term_vectors: bool):
    """The ``mapInPandas`` function of a build: one Spark partition holds
    exactly one segment's docs, in one or more pandas batches. It hashes
    each doc's content, inverts and flushes the segment, and yields its
    one row of ``STATS_SCHEMA``; an empty partition yields nothing."""
    def build_one_segment(batches):
        from pyspark import TaskContext
        frames = list(batches)
        if not frames:
            return
        pdf = (frames[0] if len(frames) == 1
               else pd.concat(frames, ignore_index=True))
        segs = pdf[SEG_COL]
        if segs.isna().any():
            raise ValueError(f"build_index: column {doc_id_col!r} holds a "
                             "null doc id")
        if segs.nunique() != 1:
            raise ValueError("build_index: a build partition holds segments "
                             f"{sorted(segs.unique().tolist())}")
        seg_id = int(segs.iloc[0])
        # the content's sha256 goes after the source's columns, before the
        # segment key; it replaces a source column of its name in place
        hashes = [hashlib.sha256(t.encode("utf-8")).hexdigest()
                  if isinstance(t, str) else None for t in pdf[content_col]]
        if SHA_COL in pdf.columns:
            pdf[SHA_COL] = hashes
        else:
            pdf.insert(pdf.columns.get_loc(SEG_COL), SHA_COL, hashes)
        tc = TaskContext.get()
        part = tc.partitionId() if tc else -1
        postings, doc_meta, norms_payload, sum_token_len = invert_segment(
            pdf, seg_id, content_col, doc_id_col, spec.stopwords,
            store_positions, sort_field=sort_field,
            sort_ascending=sort_ascending, **spec.options())
        if store_term_vectors:
            _write_term_vectors(catalog_root, seg_id, pdf, content_col,
                                doc_id_col, spec.stopwords)
        stats = _write_segment(catalog_root, seg_id, postings, doc_meta,
                               norms_payload, part,
                               sum_token_len=sum_token_len)
        yield pd.DataFrame([stats])[STATS_COLUMNS]
    return build_one_segment


def compute_term_stats(spark, catalog: SnapshotCatalog, seg_ids: list[int],
                       out_dir: str) -> str:
    """Global term statistics: df/ttf summed per term across the segments
    ``seg_ids`` — the reference gathers these once per query across leaves
    (``index/TermStates.java:184-190``); we precompute them as a table,
    ``out_dir``, of columns ``term string, df long, ttf long``.

    One shuffle-free fan-out over the term ranges a merge cuts
    (:func:`.merge.term_ranges`): each task reads its range of every
    segment's ``(term, df, ttf)`` with a pushed filter, sums per term with
    pyarrow and writes one term-sorted part file, numbered in range order,
    so the directory reads back in global term order and point/prefix
    probes (suggest, spell, query stats) prune row groups via parquet
    min/max. A task's work is bounded by its range's rows: at most one row
    per (term, segment), since each segment's kernel already summed its
    own. The parts are published as ``out_dir`` (:func:`publish`), which
    replaces any leftover of a crashed commit."""
    import pyarrow.parquet as pq

    from ..session import ensure_shipped
    from .merge import term_ranges
    from .search import fan_out
    ensure_shipped(spark)
    seg_dirs = {s: catalog.segment_dir(s) for s in seg_ids}
    with publish(out_dir) as tmp:
        os.makedirs(tmp)

        def aggregate(item):
            i, filters = item
            t = pa.concat_tables([pq.read_table(
                os.path.join(d, "postings.parquet"),
                columns=["term", "df", "ttf"], filters=filters)
                for d in seg_dirs.values()])
            t = t.group_by("term").aggregate([("df", "sum"), ("ttf", "sum")])
            write_segment_file(pa.table({
                "term": t["term"], "df": t["df_sum"], "ttf": t["ttf_sum"],
            }).sort_by("term"), os.path.join(tmp, f"part-{i:05d}.parquet"))

        fan_out(spark, list(enumerate(term_ranges(spark, seg_dirs))),
                aggregate, "part int").collect()
        shutil.rmtree(out_dir, ignore_errors=True)
    return out_dir


def commit_segments(spark, catalog: SnapshotCatalog, base,
                    segments: list[dict], extra: dict, carry=(),
                    soft_add: dict | None = None):
    """Publish ``segments`` as the generation after ``base`` (``None`` for
    a new index): the one segment-set commit — the ``segments_N`` write —
    of a build, a merge, ``add_indexes`` and ``split_index``. Returns the
    committed Snapshot.

    ``extra`` holds the caller's index-level keys. The field stats are
    summed from the segments' lineage (the invariant ``check_index``
    checks), and one :func:`compute_term_stats` writes the dictionary.
    Each segment's per-doc state — hard and soft tombstones and docvalues
    updates, Lucene's per-segment ``.liv`` and dv-update generations —
    comes from ``carry``, a list of ``(catalog, snapshot, {old seg_id: new
    seg_id})``: the state of a segment its map leaves out drops, since its
    docs were merged, rebuilt or not copied. ``soft_add`` ({seg_id: local
    ids}) joins the soft tombstones: a merge's retained soft deletes. The
    state goes through its driver-side writers, which refuse an address
    outside ``segments``. A file whose one carry is this index's own base
    snapshot with every segment kept under its id is reused as it is: an
    append that rebuilds no segment writes no state."""
    from .delete import _FILES, _union, load_deletes, write_tombstones
    from .docvalues import load_updates, write_updates
    segments = sorted(segments, key=lambda s: s["seg_id"])
    gen = base.snapshot_id + 1 if base else 1
    field_stats = {
        "doc_count": int(sum(s["num_docs"] for s in segments)),
        "sum_total_term_freq": int(sum(
            s.get("sum_token_len", s["sum_doc_len"]) for s in segments)),
    }
    ts_path = compute_term_stats(
        spark, catalog, [s["seg_id"] for s in segments],
        os.path.join(catalog.root, "term_stats", f"gen-{gen}"))
    # the state keys and their counts come from the carried snapshots only
    state = {k for key, (_, count, _) in _FILES.items() for k in (key, count)}
    extra = {k: v for k, v in extra.items() if k not in state}

    def held(key: str, add=None):
        """The carries that hold a ``key`` file; ``None`` when that is the
        base's file alone, kept whole under its seg ids with nothing to
        ``add``: ``extra`` then points at it as it is."""
        out = [(c, snap, m) for c, snap, m in carry
               if (snap.extra or {}).get(key)]
        if (not add and len(out) == 1 and out[0][1] is base
                and out[0][0].root == catalog.root
                and all(out[0][2].get(s) == s for s in base.seg_ids)):
            extra.update({k: base.extra[k] for k in (key, _FILES[key][1])
                          if k in base.extra})
            return None
        return out

    # hard and soft tombstones
    for key, add in (("deletes", {}), ("soft_deletes", soft_add or {})):
        carried = held(key, add)
        if carried is None or not (carried or add):
            continue
        kept = {m[s]: ids for c, snap, m in carried
                for s, ids in load_deletes(c, snap, key=key).items()
                if s in m}
        write_tombstones(catalog, segments, gen, _union(kept, add), extra,
                         key)
    # docvalues updates
    carried = held("dv_updates")
    if carried:
        rows = []
        for c, snap, m in carried:
            r = load_updates(c, snap)
            r = r[r["seg_id"].isin(list(m))]
            rows.append(r.assign(seg_id=r["seg_id"].map(m)))
        write_updates(catalog, segments, gen,
                      pd.concat(rows, ignore_index=True), extra)
    return catalog.commit(segments, field_stats, ts_path, extra=extra)


def build_index(spark, df, index_dir: str, *,
                num_segments: int = 32,
                content_col: str = "content",
                doc_id_col: str = "doc_id",
                stopwords: frozenset = frozenset(),
                store_positions: bool = True,
                build_id: str | None = None,
                sort_field: str | None = None,
                sort_ascending: bool = True,
                store_term_vectors: bool = False,
                **chain):
    """Build (or resume) an index over ``df`` and commit a snapshot.

    ``df`` must carry a unique int64 ``doc_id`` column — the global docID
    and tie-break order (the role of Lucene's docBase+local docID).
    Returns the committed :class:`Snapshot`, which keeps every segment of
    the latest one.

    Without a ``build_id`` the build appends ``num_segments`` segments
    under fresh ids from :meth:`SnapshotCatalog.allocate`. With one, its
    first call claims those ids in ``builds/<build_id>.json``, and a later
    call with the same key and input resumes onto them
    (:meth:`SnapshotCatalog.claim`): it builds only the segments not yet
    written, never one a merge has since taken, and raises if
    ``num_segments`` differs from the claim.

    ``store_term_vectors`` writes a per-doc (terms, starts, ends) offset
    sidecar alongside the segments (the reference's term-vectors files,
    ``Lucene90CompressingTermVectorsWriter``) — consumed by
    :func:`operators.highlight.highlight_tv` to highlight without
    re-analysis. Stored keyed by GLOBAL doc_id at the index level (not
    per segment), so merges never rewrite it — the Spark-native shape of
    "term vectors survive merges by bulk copy". Plain standard chain
    only (:attr:`AnalyzerSpec.plain`): any other chain option would break
    the offset→source-slice meaning.

    ``chain`` holds the other :class:`AnalyzerSpec` options as keywords.
    They become one spec before any Spark job, so a bad combination
    raises ``ValueError`` and an unknown keyword ``TypeError`` here, as
    does a content column that is not a string.

    One Spark job builds the segments: the docs shuffle straight to their
    segment's partition and each task builds one segment. A null doc id
    fails that job with a ``ValueError`` naming ``doc_id_col``, and no
    snapshot is committed.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from ..session import ensure_shipped
    spec = AnalyzerSpec(stopwords=frozenset(stopwords), **chain)
    spec.check_store_positions(store_positions)
    if store_term_vectors and not spec.plain:
        raise ValueError("term vectors require the plain standard chain "
                         "(offsets must slice the source text)")
    content_type = df.schema[content_col].dataType
    if not isinstance(content_type, StringType):
        raise TypeError(f"build_index: content column {content_col!r} is "
                        f"{content_type.simpleString()}, not string")
    ensure_shipped(spark)
    catalog = SnapshotCatalog(index_dir)
    seg_ids, done = catalog.claim(num_segments, build_id)
    if store_term_vectors:   # a segment is whole only with its vectors
        done = {s: st for s, st in done.items() if st is None
                or os.path.exists(os.path.join(
                    index_dir, "term_vectors", f"seg-{s}.parquet"))}
    part = F.pmod(F.col(doc_id_col), F.lit(num_segments)).cast("int")
    work = df.withColumn(SEG_COL, part + F.lit(seg_ids[0]))
    if done:
        # a null doc id stays in, for the builder to refuse
        work = work.filter(F.col(SEG_COL).isNull()
                           | ~F.col(SEG_COL).isin(list(done)))

    builder = _make_builder(index_dir, content_col, doc_id_col, spec,
                            store_positions, sort_field, sort_ascending,
                            store_term_vectors)
    # partition i is segment seg_ids[i] (a null doc id lands in
    # partition 0); a partition count fixed by the call is never
    # coalesced by adaptive execution
    new_stats = (work.repartitionById(num_segments, part)
                 .mapInPandas(builder, STATS_SCHEMA)
                 .collect())

    # the latest snapshot's segments stay, with their per-doc state
    latest = catalog.load()
    live = {s["seg_id"]: s for s in latest.segments} if latest else {}
    seg_stats = {**{s: st for s, st in done.items() if st}, **live}
    for row in new_stats:
        seg_stats[row["seg_id"]] = {**row.asDict(), "origin": "build"}
    carry = [(catalog, latest, {s: s for s in live})] if latest else []
    from ..functions.codec import CODEC_VERSION
    extra = {"num_segments": num_segments,
             "doc_id_col": doc_id_col,
             "store_positions": store_positions,
             "codec_version": CODEC_VERSION}
    if sort_field is not None:
        extra["index_sort"] = {"field": sort_field,
                               "ascending": bool(sort_ascending)}
    if spec.payload_delimiter is not None:
        extra["payloads"] = True
    if spec.shingles is not None:
        extra["shingles"] = list(spec.shingles)
    if spec.common_grams:
        extra["common_grams"] = sorted(spec.common_grams)
    if store_term_vectors or (latest and
                              (latest.extra or {}).get("term_vectors")):
        extra["term_vectors"] = True
    return commit_segments(spark, catalog, latest, list(seg_stats.values()),
                           extra, carry)
