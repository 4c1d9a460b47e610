"""Beider-Morse Phonetic Matching (BMPM) engine + BeiderMorseFilter
overlay semantics.

Reference: ``lucene/analysis/phonetic/.../BeiderMorseFilter.java`` wraps
commons-codec's ``org.apache.commons.codec.language.bm.PhoneticEngine``
(Beider & Morse, "Phonetic Matching: A Better Soundex", Association of
Professional Genealogists Quarterly, 2008). This module re-implements
that PUBLIC engine: language guessing from surname spelling patterns,
per-language phonetic rule application with language-restricted phoneme
alternatives, and the exact/approx final-rule folding passes.

The rule tables under ``bm_rules/`` are the published BMPM rule set in
the commons-codec (Apache-2.0) text rendering, extracted verbatim from
the commons-codec 1.19 jar the local Spark distribution ships. The
engine is differentially verified against that SAME jar's real
PhoneticEngine on an 11k-name golden file
(``tests/data/phonetic/bm_golden.tsv``, regenerated by
``tools/gen_bm_goldens.py``) across six engine configurations
(gen/ash/sep × approx/exact, concat on/off, explicit language set).

Faithful quirks kept on purpose:

* the ``d'``/name-prefix split re-GUESSES languages for each part even
  when the caller passed an explicit language set;
* non-concat single-word names encode ``words[0]`` (not the
  prefix-stripped ``words2[0]``);
* phonemes deduplicate by (text, languages) at rule application, but
  the final-rule fold merges by TEXT ONLY, unioning language sets, in
  text-sorted order (the TreeMap over Phoneme.COMPARATOR);
* unmatched characters are DROPPED in the main pass but COPIED through
  in the final-rule passes.
"""

from __future__ import annotations

import io
import re
from functools import lru_cache

import numpy as np
import pandas as pd

from .resources import data_file

__all__ = ["PhoneticEngine", "bm_encode", "beider_morse_batch"]

#: languages == None means ANY_LANGUAGE
ANY = None

#: resource-file prefix per name type (NameType.getName())
_NT_PREFIX = {"generic": "gen", "ashkenazi": "ash", "sephardic": "sep"}

NAME_PREFIXES = {
    "generic": ("da", "dal", "de", "del", "dela", "de la", "della",
                "des", "di", "do", "dos", "du", "van", "von"),
    "ashkenazi": ("bar", "ben", "da", "de", "van", "von"),
    "sephardic": ("al", "el", "da", "dal", "de", "del", "dela",
                  "de la", "della", "des", "di", "do", "dos", "du",
                  "van", "von"),
}

DEFAULT_MAX_PHONEMES = 20


def _restrict(a, b):
    if a is ANY:
        return b
    if b is ANY:
        return a
    return a & b


def _merge(a, b):
    """LanguageSet.merge — faithfully NON-commutative (commons quirk):
    ANY_LANGUAGE.merge(other) returns OTHER, while
    SomeLanguages.merge(ANY) returns ANY; the empty set (NO_LANGUAGES)
    behaves as the identity via plain union."""
    if a is ANY:
        return b
    if b is ANY:
        return ANY
    return a | b


def _is_empty(a):
    return a is not ANY and len(a) == 0


# ---------------------------------------------------------------------------
# resource parsing (comments / #include handling as in commons Rule /
# Lang / Languages parsers)
# ---------------------------------------------------------------------------

def _resource_lines(name: str):
    """Logical lines of ``bm_rules/<name>.txt``: multiline ``/* */``
    blocks skipped, ``//`` comments stripped, blanks dropped."""
    out = []
    in_cmt = False
    with io.TextIOWrapper(data_file("bm_rules", f"{name}.txt"),
                          encoding="utf-8") as f:
        for raw in f:
            raw = raw.strip()
            if in_cmt:
                if raw.endswith("*/"):
                    in_cmt = False
                continue
            if raw.startswith("/*"):
                if not raw.endswith("*/"):
                    in_cmt = True
                continue
            i = raw.find("//")
            line = (raw[:i] if i >= 0 else raw).strip()
            if line:
                out.append(line)
    return out


@lru_cache(maxsize=None)
def _languages(name_type: str) -> frozenset:
    return frozenset(_resource_lines(
        f"{_NT_PREFIX[name_type]}_languages"))


@lru_cache(maxsize=None)
def _lang_rules(name_type: str):
    """(compiled_pattern, languages frozenset, accept bool) rows of the
    language-guessing table."""
    rules = []
    for line in _resource_lines(f"{_NT_PREFIX[name_type]}_lang"):
        parts = line.split()
        if len(parts) != 3:
            raise ValueError(f"bad lang rule: {line!r}")
        pat, langs, accept = parts
        rules.append((re.compile(pat), frozenset(langs.split("+")),
                      accept == "true"))
    return tuple(rules)


def guess_languages(name_type: str, input_: str):
    """Lang.guessLanguages: start from every language of the name
    type; each matching spelling rule intersects (accept) or subtracts
    (reject); empty result falls back to ANY."""
    text = input_.lower()
    langs = set(_languages(name_type))
    for pat, rule_langs, accept in _lang_rules(name_type):
        if pat.search(text):
            if accept:
                langs &= rule_langs
            else:
                langs -= rule_langs
    return frozenset(langs) if langs else ANY


def _parse_phoneme(ph: str):
    """One alternative: ``text`` or ``text[lang+lang]``."""
    open_ = ph.find("[")
    if open_ >= 0:
        if not ph.endswith("]"):
            raise ValueError(f"bad phoneme language spec: {ph!r}")
        return (ph[:open_],
                frozenset(ph[open_ + 1:-1].split("+")))
    return (ph, ANY)


def _parse_phoneme_expr(ph: str):
    """Phoneme expression: plain, or ``(a|b|c[langs])`` alternatives; a
    leading/trailing ``|`` inside the parens adds the empty phoneme."""
    if ph.startswith("("):
        if not ph.endswith(")"):
            raise ValueError(f"unmatched paren: {ph!r}")
        body = ph[1:-1]
        parts = body.split("|")
        # Java String.split drops TRAILING empty strings ("i|" → ["i"])
        # but keeps a leading one ("|h|f" → ["", "h", "f"]); the extra
        # empty phoneme is appended ONLY for a trailing '|' with a
        # nonempty last part — getting this wrong changes WHICH
        # phonemes survive the maxPhonemes cap
        while parts and parts[-1] == "":
            parts.pop()
        phs = [_parse_phoneme(p) for p in parts]
        if ((len(parts) > 1 and parts[0] != "" and body.startswith("|"))
                or (parts and parts[-1] != "" and body.endswith("|"))):
            phs.append(("", ANY))
        return tuple(phs)
    return (_parse_phoneme(ph),)


def _context_matcher(regex: str):
    """commons Rule.pattern(regex) RPattern dispatch — the quirk engine
    behavior depends on: a context WITHOUT a ``[`` box is matched as a
    LITERAL string (so the lcontext ``"."`` means a literal dot — a
    dead rule), a pure single-box context is matched char-wise
    (literal membership, so ``-`` in a box is a plain character), and
    only box-plus-extra contexts compile as real regexes (find()).
    ``regex`` arrives with the caller's anchors already attached
    (lcontext + '$' / '^' + rcontext)."""
    starts = regex.startswith("^")
    ends = regex.endswith("$")
    content = regex[1 if starts else 0: len(regex) - 1 if ends else
                    len(regex)]
    if "[" not in content:
        if starts and ends:
            if not content:
                return lambda s: s == ""
            return lambda s, c=content: s == c
        if (starts or ends) and not content:
            return lambda s: True
        if starts:
            return lambda s, c=content: s.startswith(c)
        if ends:
            return lambda s, c=content: s.endswith(c)
    elif content.startswith("[") and content.endswith("]"):
        box = content[1:-1]
        if "[" not in box:
            negate = box.startswith("^")
            if negate:
                box = box[1:]
            should = not negate
            if starts and ends:
                return (lambda s, b=box, m=should:
                        len(s) == 1 and (s[0] in b) == m)
            if starts:
                return (lambda s, b=box, m=should:
                        len(s) > 0 and (s[0] in b) == m)
            if ends:
                return (lambda s, b=box, m=should:
                        len(s) > 0 and (s[-1] in b) == m)
    pat = re.compile(regex)
    return lambda s, p=pat: p.search(s) is not None


def _strip_quotes(s: str) -> str:
    """commons Rule.stripQuotes: ONE leading and ONE trailing double
    quote (so the raw token ``"\\""`` yields the 2-char pattern ``\\"``
    — the transliterated Cyrillic hard/soft sign rule)."""
    if s.startswith('"'):
        s = s[1:]
    if s.endswith('"'):
        s = s[:-1]
    return s


@lru_cache(maxsize=None)
def _rules(name_type: str, rule_type: str, lang: str):
    """Pattern-first-char keyed rule map for one resource (with
    ``#include`` splicing): {first_char: [(pattern, lcontext_re,
    rcontext_re, phoneme_alternatives), ...]} in file order. Lines are
    whitespace-split into exactly four quote-stripped parts, like
    commons Rule.parseRules."""
    out: dict[str, list] = {}

    def load(resource: str):
        for line in _resource_lines(resource):
            if line.startswith("#include"):
                load(line[len("#include"):].strip())
                continue
            parts = line.split()
            if len(parts) != 4:
                raise ValueError(f"bad rule line in {resource}: {line!r}")
            pattern, lctx, rctx, ph = (_strip_quotes(p) for p in parts)
            if not pattern:
                raise ValueError(f"empty pattern in {resource}")
            lre = _context_matcher(lctx + "$") if lctx else None
            rre = _context_matcher("^" + rctx) if rctx else None
            out.setdefault(pattern[0], []).append(
                (pattern, lre, rre, _parse_phoneme_expr(ph)))

    infix = "rules" if rule_type == "rules" else rule_type
    load(f"{_NT_PREFIX[name_type]}_{infix}_{lang}")
    return out


def _rules_for(name_type: str, rule_type: str, lang_set):
    """Rule.getInstanceMap(nameType, rt, langs): singleton language →
    its own file, anything else → the 'any' file."""
    if lang_set is not ANY and len(lang_set) == 1:
        return _rules(name_type, rule_type, next(iter(lang_set)))
    return _rules(name_type, rule_type, "any")


# ---------------------------------------------------------------------------
# engine
# ---------------------------------------------------------------------------

def _apply_expr(phonemes, expr, max_phonemes):
    """PhonemeBuilder.apply: cross product of current phonemes with the
    expression's alternatives, language-restricted, capped at
    max_phonemes (the cap BREAKS the whole cross product). NO content
    dedup — the reference Phoneme has no equals(), so its LinkedHashSet
    dedups by identity only; duplicates stay until the final text fold."""
    new = []
    for text, langs in phonemes:
        for rtext, rlangs in expr:
            joined = _restrict(langs, rlangs)
            if _is_empty(joined):
                continue
            new.append((text + rtext, joined))
            if len(new) >= max_phonemes:
                return new          # the reference's break EXPR
    return new


def _march(rules, text, phonemes, max_phonemes, copy_unmatched):
    """One rules pass over ``text``: at each position the first rule
    (file order) whose pattern+contexts match applies its phoneme
    expression and skips the pattern; unmatched chars are dropped
    (main pass) or appended verbatim (final passes)."""
    i = 0
    n = len(text)
    while i < n:
        found = False
        step = 1
        for pattern, lre, rre, expr in rules.get(text[i], ()):
            pl = len(pattern)
            if text[i:i + pl] != pattern:
                continue
            if rre is not None and not rre(text[i + pl:]):
                continue
            if lre is not None and not lre(text[:i]):
                continue
            phonemes = _apply_expr(phonemes, expr, max_phonemes)
            found = True
            step = pl
            break
        if not found and copy_unmatched:
            phonemes = [(t + text[i], l) for t, l in phonemes]
        i += step
    return phonemes


def _apply_final(phonemes, rules, max_phonemes):
    """applyFinalRules: re-march every phoneme's TEXT through the final
    rules (unmatched chars copied), then fold by text only — language
    sets of same-text phonemes union; result sorted by text."""
    if not rules:
        return phonemes
    folded: dict[str, object] = {}
    for text, langs in phonemes:
        sub = _march(rules, text, [("", langs)], max_phonemes,
                     copy_unmatched=True)
        for ntext, nlangs in sub:
            if ntext in folded:
                folded[ntext] = _merge(folded[ntext], nlangs)
            else:
                folded[ntext] = nlangs
    return [(t, folded[t]) for t in sorted(folded)]


class PhoneticEngine:
    """commons-codec ``bm.PhoneticEngine`` — ``name_type`` ∈
    generic/ashkenazi/sephardic, ``rule_type`` ∈ approx/exact,
    ``concat`` joins multi-word names before encoding."""

    def __init__(self, name_type: str = "generic",
                 rule_type: str = "approx", concat: bool = True,
                 max_phonemes: int = DEFAULT_MAX_PHONEMES):
        if name_type not in NAME_PREFIXES:
            raise ValueError(f"bad name type {name_type!r}")
        if rule_type not in ("approx", "exact"):
            raise ValueError(f"bad rule type {rule_type!r}")
        self.name_type = name_type
        self.rule_type = rule_type
        self.concat = concat
        self.max_phonemes = max_phonemes

    def encode(self, input_: str, languages=ANY,
               _explicit: bool = False) -> str:
        if not _explicit:
            languages = guess_languages(self.name_type, input_)
        rules = _rules_for(self.name_type, "rules", languages)
        final1 = _rules(self.name_type, self.rule_type, "common")
        final2 = _rules_for(self.name_type, self.rule_type, languages)

        input_ = input_.lower().replace("-", " ").strip()

        if self.name_type == "generic":
            if len(input_) >= 2 and input_[:2] == "d'":
                rem = input_[2:]
                return (f"({self.encode(rem)})-({self.encode('d' + rem)})")
            for pfx in NAME_PREFIXES["generic"]:
                if input_.startswith(pfx + " "):
                    rem = input_[len(pfx) + 1:]
                    return (f"({self.encode(rem)})"
                            f"-({self.encode(pfx + rem)})")

        words = input_.split()
        if not words:
            words = [""]
        if self.name_type == "sephardic":
            words2 = [w.split("'")[-1] for w in words]
            words2 = [w for w in words2
                      if w not in NAME_PREFIXES["sephardic"]]
        elif self.name_type == "ashkenazi":
            words2 = [w for w in words
                      if w not in NAME_PREFIXES["ashkenazi"]]
        else:
            words2 = list(words)

        if self.concat:
            input_ = " ".join(words2)
        elif len(words2) == 1:
            input_ = words[0]          # quirk: words, not words2
        elif words2:
            return "-".join(self.encode(w) for w in words2)

        phonemes = _march(rules, input_, [("", languages)],
                          self.max_phonemes, copy_unmatched=False)
        phonemes = _apply_final(phonemes, final1, self.max_phonemes)
        phonemes = _apply_final(phonemes, final2, self.max_phonemes)
        return "|".join(t for t, _ in phonemes)

    def encode_with_languages(self, input_: str, languages) -> str:
        """encode(input, languageSet) — explicit set at the TOP level;
        prefix-split recursion re-guesses (reference behavior)."""
        return self.encode(input_, frozenset(languages), _explicit=True)


@lru_cache(maxsize=8)
def _engine(name_type: str, rule_type: str, concat: bool):
    return PhoneticEngine(name_type, rule_type, concat)


def bm_encode(value: str, name_type: str = "generic",
              rule_type: str = "approx", concat: bool = True,
              languages=None) -> str:
    eng = _engine(name_type, rule_type, concat)
    if languages:
        return eng.encode_with_languages(value, languages)
    return eng.encode(value)


_BM_TOKEN = re.compile(r"[^()|-]+")


def beider_morse_batch(doc_idx, terms, positions, n_docs,
                       name_type: str = "generic",
                       rule_type: str = "approx", concat: bool = True,
                       languages=None):
    """BeiderMorseFilter (reference ``BeiderMorseFilter.java``): the
    encoded form's ``([^()|-]+)`` groups become the emitted tokens —
    the FIRST replaces the term (same position), the rest are posInc=0
    overlays; an encoding with no group leaves the token unchanged."""
    if len(terms) == 0:
        return (doc_idx, terms, positions,
                np.zeros(n_docs, dtype=np.int64))
    uniq = pd.factorize(terms)[1]
    code_lists = []
    for u in uniq:
        toks = _BM_TOKEN.findall(
            bm_encode(u, name_type, rule_type, concat, languages))
        code_lists.append(toks if toks else [u])
    from .phonetic import _multi_code_batch
    return _multi_code_batch(doc_idx, terms, positions, n_docs,
                             code_lists, inject=False)
