"""ICUTokenizer port — UAX#29 word break over per-script runs with the
CJK dictionary engine (the reference's last non-data-blocked analyzer
family).

Reference surface (``lucene/analysis/icu/src/java/org/apache/lucene/
analysis/icu/segmentation/``):

* ``ScriptIterator.java:43`` — runs of same-script text; Common/
  Inherited attach to the surrounding run; non-spacing marks inherit
  their base's script; with ``combineCJ`` Han/Hiragana/Katakana all
  report ``UScript.JAPANESE`` and fullwidth digits reroute to LATIN.
* ``CompositeBreakIterator.java`` — per-run delegation to a word
  break iterator.
* ``DefaultICUTokenizerConfig.java`` (cjkAsWords=true) — JAPANESE
  runs use the ROOT word iterator (UAX#29 + the CJK dictionary
  engine); everything else uses ``Default.brk`` (same rules, no CJ
  dictionary).
* ``BreakIteratorWrapper.java:57-91`` — the emoji status override
  (L2/16-315): a segment whose first code point is in
  [[:Emoji:][:Extended_Pictographic:]] gets EMOJI_SEQUENCE_STATUS
  (299), except EMOJI_RK members ("#*0-9©®™〰〽") which qualify only
  when followed by U+FE0F / U+20E3.
* ``ICUTokenizer.java:202-223`` — segments with rule status 0 are
  skipped; 4 kB chunking with a whitespace safe-end.
* icu4j ``CjkBreakEngine`` (bytecode-verified against the 77.1 jar
  the local Spark ships): NFKC-normalize the dictionary span, Viterbi
  over cjdict costs (max word 20 code points, unknown single-cp cost
  255 when no length-1 entry), katakana-run costs
  [8192,984,408,240,204,252,300,372,480] for lengths 0-8 (8192
  beyond, only runs < 20 long), backtrack via prev[].

Data tables (``icu_data/``, dumped from the icu4j 77.1 jar by
``tools/gen_icu_tokenizer_goldens.py`` / ``tools/gen_icu_wb_tables
.py``): per-codepoint script runs, WORD_BREAK property runs,
Emoji/Extended_Pictographic/whitespace sets, and the full cjdict
(315,964 entries iterated out of icu4j's own CharsTrie).

Pinned by ``tests/data/icu/icu_tokenizer_fuzz.tsv.gz``: 2000
mixed-script texts tokenized by the COMPILED reference (its own
Default.brk resources + icu4j) — start/end/type/script per token.

The dictionary-break family is COMPLETE: CJK (cjdict Viterbi) plus
all four Southeast-Asian engines — Thai, Lao, Burmese, Khmer
(PossibleWord lookahead walk; per-engine begin/end/mark sets and
MIN_WORD_SPAN verified against the icu4j bytecode; dictionaries
iterated out of the jar's own tries: 26,383 / 30,550 / 41,120 /
81,028 entries).
"""

from __future__ import annotations

import bisect
import gzip
import unicodedata

from .resources import data_file

# UScript constants (verified against the dumped table)
COMMON, INHERITED = 0, 1
HAN, HANGUL, HIRAGANA, KATAKANA, LATIN = 17, 18, 20, 22, 25
JAPANESE = 105

# WORD_BREAK property values (wordbreak.tsv.gz header order)
WB_OTHER, WB_ALETTER, WB_FORMAT, WB_KATAKANA, WB_MIDLETTER = 0, 1, 2, 3, 4
WB_MIDNUM, WB_NUMERIC, WB_EXTENDNUMLET, WB_CR, WB_EXTEND = 5, 6, 7, 8, 9
WB_LF, WB_MIDNUMLET, WB_NEWLINE, WB_RI, WB_HEBREW = 10, 11, 12, 13, 14
WB_SQ, WB_DQ = 15, 16
WB_ZWJ, WB_WSEGSPACE = 21, 22

# rule statuses (RuleBasedBreakIterator constants)
WORD_NONE, WORD_NUMBER, WORD_LETTER, WORD_KANA, WORD_IDEO = 0, 100, 200, 300, 400
EMOJI_SEQUENCE_STATUS = 299   # ICUTokenizerConfig.java:28

_AHL = frozenset((WB_ALETTER, WB_HEBREW))
_MIDL = frozenset((WB_MIDLETTER, WB_MIDNUMLET, WB_SQ))
_MIDN = frozenset((WB_MIDNUM, WB_MIDNUMLET, WB_SQ))
_EFZ = frozenset((WB_EXTEND, WB_FORMAT, WB_ZWJ))
_NLCRLF = frozenset((WB_NEWLINE, WB_CR, WB_LF))

_EMOJI_RK = frozenset(map(ord, "*#0123456789©®™〰〽"))

_tables: dict = {}


def _ranges(path, idx=(0, 1, 2)):
    starts, ends, vals = [], [], []
    with gzip.open(path, "rt", encoding="utf-8") as f:
        for ln in f:
            if ln.startswith("#"):
                continue
            p = ln.split("\t")
            starts.append(int(p[idx[0]]))
            ends.append(int(p[idx[1]]))
            vals.append(int(p[idx[2]]))
    return starts, ends, vals


def _load():
    if _tables:
        return _tables
    _tables["script"] = _ranges(data_file("icu_data", "scripts.tsv.gz"))
    _tables["wb"] = _ranges(data_file("icu_data", "wordbreak.tsv.gz"))
    sets: dict = {}
    with gzip.open(data_file("icu_data", "uax29_sets.tsv.gz"), "rt",
                   encoding="utf-8") as f:
        for ln in f:
            name, a, b = ln.split("\t")
            sets.setdefault(name, ([], []))
            sets[name][0].append(int(a))
            sets[name][1].append(int(b))
    _tables["sets"] = sets
    return _tables


def _load_cjdict():
    """cjdict words + prefixes, loaded lazily on the first CJ
    dictionary span (~60 MB per worker — executors that never see CJK
    text never pay it; same pattern as the SEA dictionaries)."""
    t = _load()
    if "cjdict" not in t:
        words: dict = {}
        prefixes: set = set()
        with gzip.open(data_file("icu_data", "cjdict.tsv.gz"), "rt",
                       encoding="utf-8") as f:
            for ln in f:
                w, v = ln.rstrip("\n").split("\t")
                words[w] = int(v)
                for i in range(1, len(w)):
                    prefixes.add(w[:i])
        t["cjdict"] = words
        t["cjprefix"] = prefixes
    return t


def _lookup(table, cp, default=0):
    starts, ends, vals = table
    i = bisect.bisect_right(starts, cp) - 1
    if i >= 0 and cp <= ends[i]:
        return vals[i]
    return default


# per-codepoint memo caches: real corpora use a small codepoint
# alphabet, so the bisect range lookups amortize to dict hits
# (~5x tokenizer throughput on ASCII-heavy text)
_set_cache: dict = {}


def _in_set(sets, name, cp):
    key = (name, cp)
    v = _set_cache.get(key)
    if v is None:
        starts, ends = sets[name]
        i = bisect.bisect_right(starts, cp) - 1
        v = i >= 0 and cp <= ends[i]
        _set_cache[key] = v
    return v


_script_cache: dict = {}


def _script(cp, combine_cj=True):
    """ScriptIterator.getScript (:166-186)."""
    key = (cp, combine_cj)
    s = _script_cache.get(key)
    if s is not None:
        return s
    t = _load()
    s = _lookup(t["script"], cp)
    if combine_cj:
        if s in (HAN, HIRAGANA, KATAKANA):
            s = JAPANESE
        elif 0xFF10 <= cp <= 0xFF19:
            s = LATIN
    _script_cache[key] = s
    return s


def script_runs(cps, combine_cj=True):
    """ScriptIterator.next (:101-136): [(start, limit, script)] over a
    code-point list; Common/Inherited merge into the surrounding run
    and upgrade the run's code; non-spacing marks inherit."""
    runs = []
    i, n = 0, len(cps)
    while i < n:
        code = COMMON
        start = i
        while i < n:
            cp = cps[i]
            sc = _script(cp, combine_cj)
            if (code <= INHERITED or sc <= INHERITED or sc == code) \
                    or unicodedata.category(chr(cp)) == "Mn":
                i += 1
                if code <= INHERITED and sc > INHERITED:
                    code = sc
            else:
                break
        runs.append((start, i, code))
    return runs


WB_HANGUL_SYL = 99   # pseudo-class, see below
_wb_cache: dict = {}


def _wb_classes(cps):
    """WORD_BREAK classes with the Default.brk tailorings (rule source
    dumped via RuleBasedBreakIterator.toString()):

    * ``$Numeric`` adds [[:dt=Wide:]&[:Nd:]] (fullwidth digits);
    * ``$ALetterPlus = [$ALetter - $dictionaryCJK
      [$ComplexContext - $Extend - $Control]]`` — Thai/Lao/Khmer/
      Myanmar letters behave as ALetter, and Hangul SYLLABLES are
      carved out of ALetter into their own single/pair rules
      ($HangulSyllable{200}, $HangulSyllable$HangulSyllable{200}) —
      they chain only with themselves."""
    t = _load()
    sets = t["sets"]
    cache = _wb_cache
    out = []
    for cp in cps:
        c = cache.get(cp)
        if c is None:
            if 0xFF10 <= cp <= 0xFF19:
                c = WB_NUMERIC
            elif 0xAC00 <= cp <= 0xD7A3:
                c = WB_HANGUL_SYL
            else:
                c = _lookup(t["wb"], cp)
                if c == WB_OTHER \
                        and _in_set(sets, "complex_context", cp) \
                        and not _in_set(sets, "gcb_control", cp):
                    c = WB_ALETTER
            cache[cp] = c
        out.append(c)
    return out


def _uax29_breaks(cps, cls):
    """UAX#29 word-boundary positions (0..n inclusive) over one run."""
    n = len(cps)
    breaks = [0]
    for i in range(1, n):
        lc, rc = cls[i - 1], cls[i]
        # WB3
        if lc == WB_CR and rc == WB_LF:
            continue
        # WB3a / WB3b
        if lc in _NLCRLF or rc in _NLCRLF:
            breaks.append(i)
            continue
        # WB3c  ZWJ x \p{Extended_Pictographic}
        if lc == WB_ZWJ and _in_set(_load()["sets"], "extpict", cps[i]):
            continue
        # WB3d
        if lc == WB_WSEGSPACE and rc == WB_WSEGSPACE:
            continue
        # WB4: X (Extend|Format|ZWJ)* -> X
        if rc in _EFZ:
            continue
        # effective left class (skip Extend/Format/ZWJ back)
        j = i - 1
        while j >= 0 and cls[j] in _EFZ:
            j -= 1
        if j < 0:
            breaks.append(i)
            continue
        left = cls[j]
        # class before left (for WB7/7c/11)
        k = j - 1
        while k >= 0 and cls[k] in _EFZ:
            k -= 1
        left2 = cls[k] if k >= 0 else None
        # class after i (for WB6/7b/12), skipping Extend/Format/ZWJ
        m = i + 1
        while m < n and cls[m] in _EFZ:
            m += 1
        right2 = cls[m] if m < n else None

        if left == WB_HANGUL_SYL and rc == WB_HANGUL_SYL:
            continue  # $HangulSyllable$HangulSyllable{200}
        if left in _AHL and rc in _AHL:
            continue  # WB5
        if left in _AHL and rc in _MIDL and right2 in _AHL:
            continue  # WB6
        if left2 in _AHL and left in _MIDL and rc in _AHL:
            continue  # WB7
        if left == WB_HEBREW and rc == WB_SQ:
            continue  # WB7a
        if left == WB_HEBREW and rc == WB_DQ and right2 == WB_HEBREW:
            continue  # WB7b
        if left2 == WB_HEBREW and left == WB_DQ and rc == WB_HEBREW:
            continue  # WB7c
        if left == WB_NUMERIC and rc == WB_NUMERIC:
            continue  # WB8
        if left in _AHL and rc == WB_NUMERIC:
            continue  # WB9
        if left == WB_NUMERIC and rc in _AHL:
            continue  # WB10
        if left2 == WB_NUMERIC and left in _MIDN and rc == WB_NUMERIC:
            continue  # WB11
        if left == WB_NUMERIC and rc in _MIDN and right2 == WB_NUMERIC:
            continue  # WB12
        if left == WB_KATAKANA and rc == WB_KATAKANA:
            continue  # WB13
        if left in (WB_ALETTER, WB_HEBREW, WB_NUMERIC, WB_KATAKANA,
                    WB_EXTENDNUMLET) and rc == WB_EXTENDNUMLET:
            continue  # WB13a
        if left == WB_EXTENDNUMLET and rc in (WB_ALETTER, WB_HEBREW,
                                              WB_NUMERIC, WB_KATAKANA):
            continue  # WB13b
        # WB15/16: RI pairs — no break between the 1st/2nd, 3rd/4th …
        if left == WB_RI and rc == WB_RI:
            cnt = 0
            p = j
            while p >= 0:
                if cls[p] == WB_RI:
                    cnt += 1
                    p -= 1
                    while p >= 0 and cls[p] in _EFZ:
                        p -= 1
                else:
                    break
            if cnt % 2 == 1:
                continue
        breaks.append(i)  # WB999
    breaks.append(n)
    return breaks


def _segment_status(cls_seg):
    """Rule status per the ACTUAL Default.brk source (dumped via
    RuleBasedBreakIterator.toString(), see tools/gen_icu_wb_tables.py
    header): the boundary status is the MAX over the tagged rules that
    end exactly at the segment end — the single-element rules
    (Numeric{100}, ALetter/Hebrew/Hangul{200}, Katakana{300}) plus the
    pair rules, of which only ``$ALetterEx $NumericEx {200}`` can beat
    the single rule (a letter element directly before a trailing
    numeric element lifts 100 -> 200, e.g. "abc1"; a MidNum in between
    keeps 100, e.g. "quick8,901" — both probed against the compiled
    rules). A trailing ExtendNumLet takes its pair status
    (AL_{200} / 1_{100} / katakana_{300} / __{200})."""
    mids = _MIDL | _MIDN | frozenset((WB_DQ,))
    elems = [c for c in cls_seg if c not in _EFZ]
    idx = [k for k, c in enumerate(elems) if c not in mids]
    if not idx:
        return WORD_NONE
    last = elems[idx[-1]]
    prev = elems[idx[-2]] if len(idx) >= 2 else None
    prev_adjacent = len(idx) >= 2 and idx[-2] == idx[-1] - 1
    if last == WB_NUMERIC:
        if prev_adjacent and prev in _AHL:
            return WORD_LETTER        # $ALetterEx $NumericEx {200}
        return WORD_NUMBER
    if last in _AHL or last == WB_HANGUL_SYL:
        return WORD_LETTER
    if last == WB_KATAKANA:
        return WORD_KANA
    if last == WB_EXTENDNUMLET:
        if prev in _AHL or prev == WB_EXTENDNUMLET:
            return WORD_LETTER
        if prev == WB_NUMERIC:
            return WORD_NUMBER
        if prev == WB_KATAKANA:
            return WORD_KANA
        return WORD_NONE
    return WORD_NONE


# ------------------------------------------------------------------
# CjkBreakEngine (icu4j, bytecode-verified)
# ------------------------------------------------------------------

_KATA_COST = (8192, 984, 408, 240, 204, 252, 300, 372, 480)
_MAX_WORD = 20
_MAX_KATA_GROUP = 20
_MAX_SNLP = 255
_INF = 1 << 31


def _is_kata(cp):
    return (0x30A1 <= cp <= 0x30FE and cp != 0x30FB) \
        or (0xFF66 <= cp <= 0xFF9F)


def _cj_fset(cp):
    """CjkBreakEngine fSet:
    [[:Han:][:Hiragana:][:Katakana:]\\u30fc\\uff70\\uff9e\\uff9f]."""
    t = _load()
    s = _lookup(t["script"], cp)
    return s in (HAN, HIRAGANA, KATAKANA) or cp in (0x30FC, 0xFF70,
                                                    0xFF9E, 0xFF9F)


def cj_word_boundaries(cps):
    """Viterbi word boundaries INSIDE a CJK dictionary span: returns
    ascending inner boundaries (code-point indices, excluding 0 and
    len). NFKC-normalizes first (with an index map) exactly like
    divideUpDictionaryRange."""
    t = _load_cjdict()
    s = "".join(map(chr, cps))
    norm = unicodedata.normalize("NFKC", s)
    if norm == s:
        ncps = cps
        imap = None
    else:
        # per-starter incremental normalization: boundaries land on
        # starter boundaries in the original, like Normalizer.getIndex
        ncps = [ord(c) for c in norm]
        imap = _nfkc_index_map(cps)
    n = len(ncps)
    best = [0] + [_INF] * n
    prev = [-1] * (n + 1)
    words, prefixes = t["cjdict"], t["cjprefix"]
    for i in range(n):
        if best[i] == _INF:
            continue
        limit = min(_MAX_WORD, n - i)
        frag = ""
        got1 = False
        for L in range(1, limit + 1):
            frag += chr(ncps[i + L - 1])
            v = words.get(frag)
            if v is not None:
                if L == 1:
                    got1 = True
                ns = best[i] + v
                if ns < best[i + L]:
                    best[i + L] = ns
                    prev[i + L] = i
            if frag not in prefixes:
                break
        if not got1:
            ns = best[i] + _MAX_SNLP
            if ns < best[i + 1]:
                best[i + 1] = ns
                prev[i + 1] = i
        if _is_kata(ncps[i]) and (i == 0 or not _is_kata(ncps[i - 1])):
            j = i + 1
            while j < n and (j - i) < _MAX_KATA_GROUP \
                    and _is_kata(ncps[j]):
                j += 1
            if (j - i) < _MAX_KATA_GROUP:
                cost = _KATA_COST[j - i] if (j - i) <= 8 else 8192
                ns = best[i] + cost
                if ns < best[j]:
                    best[j] = ns
                    prev[j] = i
    if best[n] == _INF:
        inner = []
    else:
        bnd = []
        i = n
        while i > 0:
            bnd.append(i)
            i = prev[i]
        inner = sorted(b for b in bnd if 0 < b < n)
    if imap is not None:
        inner = sorted({imap[b] for b in inner
                        if 0 < imap[b] < len(cps)})
    return inner


def _nfkc_index_map(cps):
    """normalized-code-point-index -> original-code-point-index map, the
    Java ``charPositions`` array (Normalizer iteration: each normalized
    code point maps to the source index AFTER the normalization chunk
    that produced it). Chunks are the maximal intervals between
    NFKC-safe source boundaries — a boundary i is safe iff
    NFKC(s[:i]) + NFKC(s[i:]) == NFKC(s) — so e.g. halfwidth ﾃ+ﾞ
    (which COMPOSE to デ) form one chunk and an intra-chunk Viterbi
    boundary maps to the chunk end, exactly like getIndex()."""
    s = "".join(map(chr, cps))
    full = unicodedata.normalize("NFKC", s)
    out = {0: 0}
    norm_done = 0
    n = len(cps)
    for i in range(1, n + 1):
        head = unicodedata.normalize("NFKC", s[:i])
        if i == n or (head + unicodedata.normalize("NFKC", s[i:])
                      == full):
            for k in range(norm_done + 1, len(head) + 1):
                out[k] = i
            norm_done = len(head)
    return out


# ------------------------------------------------------------------
# the composite tokenizer
# ------------------------------------------------------------------

def _run_tokens(cps, base, script, combine_cj=True):
    """Tokens for one script run: [(start, end, status)] with offsets
    relative to the full text (``base`` added)."""
    out = []
    if script == JAPANESE and combine_cj:
        # split into dictionary (fSet) spans and the rest
        i, n = 0, len(cps)
        while i < n:
            j = i
            in_dict = _cj_fset(cps[i])
            while j < n and _cj_fset(cps[j]) == in_dict:
                j += 1
            if in_dict:
                inner = cj_word_boundaries(cps[i:j])
                lo = i
                for b in inner + [j - i]:
                    out.append((base + lo, base + i + b, WORD_IDEO))
                    lo = i + b
            else:
                out.extend(_plain_tokens(cps[i:j], base + i))
            i = j
    else:
        out.extend(_plain_tokens(cps, base))
    return out


def _plain_tokens(cps, base):
    cls = _wb_classes(cps)
    breaks = _uax29_breaks(cps, cls)
    sets = _load()["sets"]
    out = []
    for a, b in zip(breaks, breaks[1:]):
        status = _segment_status(cls[a:b])
        cuts = _dict_subdivide(cps, a, b)
        lo = a
        for c in cuts + [b]:
            st = status
            # emoji override per EMITTED boundary (BreakIteratorWrapper
            # computes calcStatus on each sub-segment the dictionary
            # produced, so the check keys on THIS sub-token's first cp)
            cp0 = cps[lo]
            if _in_set(sets, "emoji", cp0) \
                    or _in_set(sets, "extpict", cp0):
                if cp0 in _EMOJI_RK:
                    nxt = cps[lo + 1] if lo + 1 < c else None
                    if nxt in (0xFE0F, 0x20E3):
                        st = EMOJI_SEQUENCE_STATUS
                else:
                    st = EMOJI_SEQUENCE_STATUS
            if st != WORD_NONE:
                out.append((base + lo, base + c, st))
            lo = c
    return out


def _type_of(script, status):
    """DefaultICUTokenizerConfig.getType (:119-135)."""
    if status == WORD_IDEO:
        return "<IDEOGRAPHIC>"
    if status == WORD_KANA:
        return "<HIRAGANA>" if script == HIRAGANA else "<KATAKANA>"
    if status == WORD_LETTER:
        return "<HANGUL>" if script == HANGUL else "<ALPHANUM>"
    if status == WORD_NUMBER:
        return "<NUM>"
    if status == EMOJI_SEQUENCE_STATUS:
        return "<EMOJI>"
    return "<OTHER>"


_IOBUFFER = 4096


def icu_tokenize(text: str, combine_cj: bool = True):
    """Full ICUTokenizer: [(term, start, end, type, script_code)] with
    UTF-16 offsets (the reference's offset unit). Replicates the 4 kB
    chunking with a whitespace safe-end (ICUTokenizer.java:134-178).

    ``combine_cj=True`` is the reference's only shipped configuration
    (``ICUTokenizer.java:67`` hardcodes DefaultICUTokenizerConfig(true,
    true)) and the golden-verified path. ``combine_cj=False`` keeps the
    script-run semantics but approximates Default.brk's per-ideograph
    CJ handling (un-goldened; Han/Hiragana runs yield no word tokens
    there) — prefer the default."""
    sets = _load()["sets"]
    # operate on UTF-16 code units like the Java buffer
    units = []
    for ch in text:
        o = ord(ch)
        if o >= 0x10000:
            o -= 0x10000
            units.append(0xD800 | (o >> 10))
            units.append(0xDC00 | (o & 0x3FF))
        else:
            units.append(o)
    out = []
    offset = 0
    rp = 0
    leftover: list[int] = []
    n_units = len(units)
    while rp < n_units or leftover:
        take = _IOBUFFER - len(leftover)
        buf = leftover + units[rp:rp + take]
        rp += take
        if rp < n_units:
            usable = 0
            for i in range(len(buf) - 1, -1, -1):
                if _in_set(sets, "whitespace", buf[i]):
                    usable = i + 1
                    break
            if usable <= 0:
                usable = len(buf)
        else:
            usable = len(buf)
        chunk = buf[:usable]
        leftover = buf[usable:]
        # decode UTF-16 units -> code points with unit offsets
        cps, u_off = [], []
        i = 0
        while i < len(chunk):
            u = chunk[i]
            if 0xD800 <= u <= 0xDBFF and i + 1 < len(chunk) \
                    and 0xDC00 <= chunk[i + 1] <= 0xDFFF:
                cps.append(0x10000 + ((u - 0xD800) << 10)
                           + (chunk[i + 1] - 0xDC00))
                u_off.append(i)
                i += 2
            else:
                cps.append(u)
                u_off.append(i)
                i += 1
        u_off.append(len(chunk))
        for start, limit, script in script_runs(cps, combine_cj):
            for a, b, status in _run_tokens(cps[start:limit],
                                            start, script, combine_cj):
                term = "".join(map(chr, cps[a:b]))
                out.append((term, offset + u_off[a], offset + u_off[b],
                            _type_of(script, status), script))
        offset += usable
        if rp >= n_units and not leftover:
            break
    return out


# ------------------------------------------------------------------
# Southeast-Asian dictionary break engines (icu4j Thai/Lao/Burmese/
# Khmer BreakEngine — bytecode-verified constants and set algebra,
# shared ICU dictionary-break algorithm: PossibleWord 3-word
# lookahead, prefix-resync heuristic, combining-mark absorption,
# Thai-only PAIYANNOI/MAIYAMOK suffix handling)
# ------------------------------------------------------------------

_SEA_LOOKAHEAD = 3
_SEA_ROOT_COMBINE = 3
_SEA_PREFIX_COMBINE = 3
_THAI_PAIYANNOI = 0x0E2F
_THAI_MAIYAMOK = 0x0E46
_PW_MAX = 20                     # POSSIBLE_WORD_LIST_MAX


class _SeaEngine:
    """One dictionary-break engine config (min_span + begin/end/mark
    predicates + suffix pair) with its dictionary lazily loaded."""
    __slots__ = ("name", "dict_file", "sa_set", "mark_set", "min_span",
                 "begin_ranges", "end_removed_single", "end_removed_range",
                 "suffix")

    def __init__(self, name, dict_file, sa_set, mark_set, min_span,
                 begin_ranges, end_removed_single=(),
                 end_removed_range=None, suffix=()):
        self.name = name
        self.dict_file = dict_file
        self.sa_set = sa_set
        self.mark_set = mark_set
        self.min_span = min_span
        self.begin_ranges = begin_ranges
        self.end_removed_single = end_removed_single
        self.end_removed_range = end_removed_range
        self.suffix = suffix

    def tables(self):
        t = _load()
        key = "dict:" + self.name
        if key not in t:
            words: dict = {}
            prefixes: set = set()
            with gzip.open(data_file("icu_data", self.dict_file), "rt",
                           encoding="utf-8") as f:
                for ln in f:
                    w, v = ln.rstrip("\n").split("\t")
                    words[w] = int(v)
                    for i in range(1, len(w)):
                        prefixes.add(w[:i])
            t[key] = (words, prefixes)
        return t[key]

    def begin_word(self, cp):
        return any(a <= cp <= b for a, b in self.begin_ranges)

    def end_word(self, cp):
        if cp in self.end_removed_single:
            return False
        r = self.end_removed_range
        if r is not None and r[0] <= cp <= r[1]:
            return False
        return _in_set(_load()["sets"], self.sa_set, cp)

    def mark(self, cp):
        return cp == 0x20 or _in_set(_load()["sets"], self.mark_set, cp)


# bytecode-verified constructor constants (fBeginWordSet ranges, the
# fEndWordSet removals, MIN_WORD_SPAN entry check, the Thai-only
# suffix set {PAIYANNOI, MAIYAMOK})
_SEA_ENGINES = (
    _SeaEngine("thai", "thaidict.tsv.gz", "thai_sa", "thai_sa_mark", 4,
               ((0x0E01, 0x0E2E), (0x0E40, 0x0E44)),
               end_removed_single=(0x0E31,),
               end_removed_range=(0x0E40, 0x0E44),
               suffix=(_THAI_PAIYANNOI, _THAI_MAIYAMOK)),
    _SeaEngine("lao", "laodict.tsv.gz", "lao_sa", "lao_sa_mark", 2,
               ((0x0E81, 0x0EAE), (0x0EC0, 0x0EC4), (0x0EDC, 0x0EDD)),
               end_removed_range=(0x0EC0, 0x0EC4)),
    _SeaEngine("burmese", "burmesedict.tsv.gz", "mymr_sa",
               "mymr_sa_mark", 2, ((0x1000, 0x102A),)),
    _SeaEngine("khmer", "khmerdict.tsv.gz", "khmr_sa", "khmr_sa_mark",
               4, ((0x1780, 0x17B3),),
               end_removed_single=(0x17D2,)),
)


class _TextIter:
    __slots__ = ("cps", "index")

    def __init__(self, cps, index):
        self.cps = cps
        self.index = index


def _sea_matches(cps, pos, max_len, words, prefixes):
    """CharsDictionaryMatcher.matches role: walk the trie code point
    by code point; returns (prefix_walk_length, ascending word
    lengths, capped at POSSIBLE_WORD_LIST_MAX)."""
    lengths = []
    frag = ""
    k = 0
    while k < max_len:
        nxt = frag + chr(cps[pos + k])
        in_words = nxt in words
        if not in_words and nxt not in prefixes:
            break
        frag = nxt
        k += 1
        if in_words and len(lengths) < _PW_MAX:
            lengths.append(k)
    return k, lengths


class _PossibleWord:
    """DictionaryBreakEngine$PossibleWord — exact port (results cached
    by offset; candidates() leaves the iterator at the LONGEST match;
    backUp steps to the next-shorter candidate)."""
    __slots__ = ("lengths", "prefix", "offset", "mark", "current",
                 "words", "prefixes")

    def __init__(self, words, prefixes):
        self.lengths = []
        self.prefix = 0
        self.offset = -1
        self.mark = 0
        self.current = 0
        self.words = words
        self.prefixes = prefixes

    def candidates(self, it, range_end):
        start = it.index
        if start != self.offset:
            self.offset = start
            self.prefix, self.lengths = _sea_matches(
                it.cps, start, range_end - start, self.words,
                self.prefixes)
            if not self.lengths:
                it.index = start
        if self.lengths:
            it.index = start + self.lengths[-1]
        self.current = len(self.lengths) - 1
        self.mark = self.current
        return len(self.lengths)

    def accept_marked(self, it):
        it.index = self.offset + self.lengths[self.mark]
        return self.lengths[self.mark]

    def back_up(self, it):
        if self.current > 0:
            self.current -= 1
            it.index = self.offset + self.lengths[self.current]
            return True
        return False

    def longest_prefix(self):
        return self.prefix

    def mark_current(self):
        self.mark = self.current


def _sea_word_boundaries(cps, range_start, range_end, eng):
    """divideUpDictionaryRange (Thai shape; Lao/Burmese/Khmer are the
    same walk without the suffix block): INNER word-end boundaries
    (absolute code-point indices, < range_end)."""
    if range_end - range_start < eng.min_span:
        return []
    wtab, ptab = eng.tables()
    words = [_PossibleWord(wtab, ptab) for _ in range(_SEA_LOOKAHEAD)]
    it = _TextIter(cps, range_start)
    breaks = []
    words_found = 0
    LA = _SEA_LOOKAHEAD
    while it.index < range_end:
        current = it.index
        word_length = 0
        candidates = words[words_found % LA].candidates(it, range_end)
        if candidates == 1:
            word_length = words[words_found % LA].accept_marked(it)
            words_found += 1
        elif candidates > 1:
            if it.index < range_end:
                found_best = False
                while True:
                    if words[(words_found + 1) % LA].candidates(
                            it, range_end) > 0:
                        words[words_found % LA].mark_current()
                        if it.index >= range_end:
                            found_best = True
                            break
                        while True:
                            if words[(words_found + 2) % LA].candidates(
                                    it, range_end) > 0:
                                words[words_found % LA].mark_current()
                                found_best = True
                                break
                            if not words[(words_found + 1)
                                         % LA].back_up(it):
                                break
                        if found_best:
                            break
                    if not words[words_found % LA].back_up(it):
                        break
            word_length = words[words_found % LA].accept_marked(it)
            words_found += 1
        # combine a following non-word with this one (resync scan)
        if it.index < range_end and word_length < _SEA_ROOT_COMBINE:
            if words[words_found % LA].candidates(it, range_end) <= 0 \
                    and (word_length == 0
                         or words[words_found % LA].longest_prefix()
                         < _SEA_PREFIX_COMBINE):
                remaining = range_end - (current + word_length)
                it.index = current + word_length
                pc = cps[it.index] if it.index < len(cps) else -1
                chars = 0
                while True:
                    it.index += 1
                    uc = cps[it.index] if it.index < len(cps) else -1
                    chars += 1
                    remaining -= 1
                    if remaining <= 0:
                        break
                    if eng.end_word(pc) and eng.begin_word(uc):
                        nc = words[(words_found + 1) % LA].candidates(
                            it, range_end)
                        it.index = current + word_length + chars
                        if nc > 0:
                            break
                    pc = uc
                if word_length <= 0:
                    words_found += 1
                word_length += chars
            else:
                it.index = current + word_length
        # never stop before a combining mark
        while it.index < range_end and eng.mark(cps[it.index]):
            it.index += 1
            word_length += 1
        # suffix handling (Thai only: PAIYANNOI / MAIYAMOK)
        if it.index < range_end and word_length > 0:
            uc = cps[it.index]
            if eng.suffix \
                    and words[words_found % LA].candidates(
                        it, range_end) <= 0 \
                    and uc in eng.suffix:
                p = it.index
                if uc == _THAI_PAIYANNOI:
                    if cps[p - 1] not in eng.suffix:
                        word_length += 1
                        it.index = p + 1
                        uc = cps[p + 1] if p + 1 < len(cps) else -1
                    else:
                        it.index = p
                if uc == _THAI_MAIYAMOK:
                    q = it.index
                    if cps[q - 1] != _THAI_MAIYAMOK:
                        word_length += 1
                        it.index = q + 1
                    else:
                        it.index = q
            else:
                it.index = current + word_length
        if word_length > 0:
            breaks.append(current + word_length)
    return [b for b in breaks if b < range_end]


def thai_word_boundaries(cps, range_start, range_end):
    """Back-compat wrapper: the Thai engine config."""
    return _sea_word_boundaries(cps, range_start, range_end,
                                _SEA_ENGINES[0])


def _dict_subdivide(cps, a, b):
    """Cut points inside rule segment [a, b) from the dictionary break
    engines (Thai/Lao/Burmese/Khmer here; CJ runs take the dedicated
    path): one engine call per maximal span of that engine's
    dictionary chars, like DictionaryBreakEngine.findBreaks."""
    t = _load()
    sets = t["sets"]
    if "sea_minmax" not in t:
        lo = min(sets[e.sa_set][0][0] for e in _SEA_ENGINES)
        hi = max(sets[e.sa_set][1][-1] for e in _SEA_ENGINES)
        t["sea_minmax"] = (lo, hi)
    lo, hi = t["sea_minmax"]
    # fast reject: segments with no code point in the combined SEA
    # band (most text) never reach the per-engine set probes
    if not any(lo <= cp <= hi for cp in cps[a:b]):
        return []
    cuts = []
    i = a
    while i < b:
        eng = None
        cp = cps[i]
        if lo <= cp <= hi:
            for e in _SEA_ENGINES:
                if _in_set(sets, e.sa_set, cp):
                    eng = e
                    break
        if eng is None:
            i += 1
            continue
        j = i
        while j < b and _in_set(sets, eng.sa_set, cps[j]):
            j += 1
        cuts.extend(_sea_word_boundaries(cps, i, j, eng))
        i = j
    return sorted(set(cuts))
