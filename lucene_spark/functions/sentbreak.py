"""Sentence boundary detection — bit-exact with
``java.text.BreakIterator.getSentenceInstance(Locale.ROOT)``, the
splitter HMMChineseTokenizer feeds the HHMM segmenter
(``HMMChineseTokenizer.java:39``).

The JDK iterator is a compiled 13-state DFA
(``sun.text.RuleBasedBreakIterator`` over SentenceBreakIteratorData),
NOT the published UAX#29 rule set — e.g. it never breaks a bare
``x.Y`` without an intervening space/close, breaks after ``.`` before
a dash, and ignores UAX#29's Upper-ATerm-Upper suppression. Rather
than approximate, this module replays the DFA itself: the state /
end-state / lookahead tables and the full code-point -> category map
were extracted from the local OpenJDK via reflection
(``smartcn_data/jdk_sentence_dfa.txt.gz``), and ``_handle_next`` below
is a faithful port of RuleBasedBreakIterator.handleNext (verified
against the disassembly): walk states; an end state records a
boundary; a lookahead state records a PENDING boundary committed when
a lookahead+end state is later reached; category -1 = ignored char;
at DONE a pending boundary equal to the text end wins.

Offsets are UTF-16 (Java) indices; ``sentence_spans`` converts to
code-point offsets for the Python-native callers.

Differentially verified: every SENT span in the smartcn golden corpus
(``tests/data/smartcn/golden.tsv``) plus a 13k-text probe grid replay
exactly.
"""

from __future__ import annotations

import gzip
from bisect import bisect_right
from functools import lru_cache

from .resources import data_file

_START_STATE = 1
_STOP_STATE = 0
_DONE = -1


@lru_cache(maxsize=1)
def _tables():
    fields = {}
    with gzip.open(data_file("smartcn_data", "jdk_sentence_dfa.txt.gz"),
                   "rt", encoding="utf-8") as f:
        for line in f:
            k, v = line.rstrip("\n").split("\t")
            fields[k] = v
    num_cats = int(fields["numCategories"])
    state_table = [int(x) for x in fields["stateTable"].split(",") if x]
    end_states = [x == "1" for x in fields["endStates"].split(",") if x]
    la_states = [x == "1" for x in fields["lookaheadStates"].split(",") if x]
    starts = []
    cats = []
    for item in fields["categories"].split(","):
        if not item:
            continue
        s, c = item.split(":")
        starts.append(int(s))
        cats.append(int(c))
    return num_cats, state_table, end_states, la_states, starts, cats


def _category(cp: int) -> int:
    _, _, _, _, starts, cats = _tables()
    return cats[bisect_right(starts, cp) - 1]


def _handle_next(cps, widths, pos_cp, n_u16, pos_u16):
    """Port of RuleBasedBreakIterator.handleNext over a code-point
    array. Returns (result_u16, result_cp)."""
    num_cats, state_table, end_states, la_states, _, _ = _tables()
    n = len(cps)
    if pos_cp == n:
        return _DONE, pos_cp
    i = pos_cp
    u = pos_u16
    # getNextIndex() of the current char
    result_u16 = min(u + widths[i], n_u16)
    result_cp = i + 1
    lookahead_u16 = 0
    lookahead_cp = 0
    state = _START_STATE
    while i < n and state != _STOP_STATE:
        cp = cps[i]
        cat = _category(cp)
        if cat != -1:
            state = state_table[state * num_cats + cat]
        nxt_u16 = min(u + widths[i], n_u16)
        nxt_cp = i + 1
        if la_states[state]:
            if end_states[state]:
                result_u16, result_cp = lookahead_u16, lookahead_cp
            else:
                lookahead_u16, lookahead_cp = nxt_u16, nxt_cp
        elif end_states[state]:
            result_u16, result_cp = nxt_u16, nxt_cp
        u += widths[i]
        i += 1
    if i >= n and lookahead_u16 == n_u16:
        result_u16, result_cp = lookahead_u16, lookahead_cp
    return result_u16, result_cp


def sentence_boundaries_utf16(text: str) -> list:
    """All boundaries in UTF-16 offsets, including 0 and the end."""
    cps = [ord(c) for c in text]
    widths = [2 if c > 0xFFFF else 1 for c in cps]
    n_u16 = sum(widths)
    bounds = [0]
    pos_cp = 0
    pos_u16 = 0
    while pos_cp < len(cps):
        r_u16, r_cp = _handle_next(cps, widths, pos_cp, n_u16, pos_u16)
        if r_u16 == _DONE or r_cp <= pos_cp:
            break
        bounds.append(r_u16)
        pos_cp, pos_u16 = r_cp, r_u16
    if bounds[-1] != n_u16:
        bounds.append(n_u16)
    return bounds


def sentence_spans(text: str) -> list:
    """[(start, end)] code-point spans covering the text."""
    cps = [ord(c) for c in text]
    widths = [2 if c > 0xFFFF else 1 for c in cps]
    n_u16 = sum(widths)
    spans = []
    pos_cp = 0
    pos_u16 = 0
    while pos_cp < len(cps):
        r_u16, r_cp = _handle_next(cps, widths, pos_cp, n_u16, pos_u16)
        if r_u16 == _DONE or r_cp <= pos_cp:
            spans.append((pos_cp, len(cps)))
            break
        spans.append((pos_cp, r_cp))
        pos_cp, pos_u16 = r_cp, r_u16
    if not spans and not cps:
        return []
    return spans
