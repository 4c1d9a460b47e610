"""Minimal classic-syntax query parser.

Covers the reference query-set grammar subset (reference
``queryparser/.../classic/QueryParser.jj:198-228`` — the benchmark query
files only use bare terms, AND/OR, NOT/-, parentheses and quoted phrases;
``benchmark/conf/query-terms.txt``, ``query-phrases.txt``). Terms are
re-analyzed with the same analyzer (QueryParserBase behavior), the default
operator is OR, and the field is fixed to the content column.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..functions.analysis import analyze_text
from .query import And, MultiTerm, Not, Or, Phrase, Query, Term

_TOKENS_RE = re.compile(r'"[^"]*"|\(|\)|[^\s()]+')

#: the token that may follow a quoted phrase: ``~slop``, ``^boost`` or both,
#: slop first (``QueryParser.jj``: ``<QUOTED> [<FUZZY_SLOP>] [^ boost]``)
PHRASE_SUFFIX_RE = re.compile(r"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?")


class QueryParseError(ValueError):
    pass


def term_or_phrase(terms: list[str], boost: float = 1.0) -> Query:
    """A :class:`Term` with ``boost``, or a :class:`Phrase` of several
    ``terms``, which has no boost: one other than 1 is refused."""
    if len(terms) > 1 and boost != 1:
        raise QueryParseError(f"a phrase takes no boost: ^{boost:g}")
    return Term(terms[0], boost) if len(terms) == 1 else Phrase(tuple(terms))


def phrase_suffix(q: Query, suffix: re.Match) -> Query:
    """``q``, a quoted phrase's query, with the slop and boost of
    ``suffix``, a :data:`PHRASE_SUFFIX_RE` match. A one-word phrase is a
    :class:`Term`: it drops the slop and takes the boost. A
    :class:`Phrase` has no boost, so one other than 1 is refused."""
    slop, boost = suffix.group(1), suffix.group(2)
    if isinstance(q, Term):
        return Term(q.term, q.boost * float(boost or 1))
    if isinstance(q, Phrase):
        if boost is not None and float(boost) != 1:
            raise QueryParseError(f"a phrase takes no boost: ^{boost}")
        return q if slop is None else Phrase(q.terms, int(slop))
    return q


def split_atom(t: str) -> tuple[str | None, str, float]:
    """``(field, text, boost)`` of an atom token ``field:text^boost``; a
    quoted phrase has no field."""
    m = re.match(r'^(.*)\^(\d+(?:\.\d+)?)$', t)
    t, boost = (m.group(1), float(m.group(2))) if m else (t, 1.0)
    if ":" in t and not t.startswith('"'):
        return (*t.split(":", 1), boost)
    return None, t, boost


def atom(t: str, stopwords: frozenset[str]) -> Query | None:
    """The query of one atom token, for both query parsers. Its field is
    dropped (one content field is indexed) and its boost kept; then a
    quoted phrase, ``word~[edits]`` fuzzy, a ``*``/``?`` prefix or
    wildcard, or else the text re-analyzed into a term or phrase
    (QueryParserBase behavior). ``None`` when the text analyzes to
    nothing."""
    _, t, boost = split_atom(t)
    if t.startswith('"') and t.endswith('"') and len(t) >= 2:
        t = t[1:-1]
    elif "*" in t or "?" in t:
        low = t.lower()
        if low.endswith("*") and "*" not in low[:-1] and "?" not in low:
            return MultiTerm("prefix", low[:-1], boost=boost)
        return MultiTerm("wildcard", low, boost=boost)
    elif m := re.match(r"^(.+?)~(\d*)$", t):
        return MultiTerm("fuzzy", m.group(1).lower(),
                         edits=int(m.group(2) or 2), boost=boost)
    terms, _, _ = analyze_text(t, stopwords=stopwords)
    return term_or_phrase(terms, boost) if terms else None


@dataclass
class _Negated:
    inner: Query


class _Dropped:
    """A clause whose text analyzed to nothing (all stopwords) — the
    classic QueryParser silently drops such clauses from the enclosing
    boolean (QueryParserBase.getFieldQuery returns null and addClause
    skips it), which is what makes QueryAutoStopWordAnalyzer work: the
    df-heavy clause vanishes, the rest of the query still runs."""


_DROPPED = _Dropped()


def _combine(positives: list[Query], negatives: list[Query],
             node) -> Query:
    if not positives:
        raise QueryParseError("query has only negative clauses")
    q: Query = positives[0] if len(positives) == 1 else node(tuple(positives))
    for n in negatives:
        q = Not(q, n)
    return q


def parse(text: str, stopwords: frozenset[str] = frozenset()) -> Query:
    toks = _TOKENS_RE.findall(text)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def advance():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or() -> Query:
        pos_clauses: list[Query] = []
        neg_clauses: list[Query] = []

        def absorb(item):
            if item is _DROPPED:
                return
            if isinstance(item, _Negated):
                neg_clauses.append(item.inner)
            else:
                pos_clauses.append(item)

        absorb(parse_and())
        while peek() is not None and peek() != ")":
            if peek() in ("OR", "||"):
                advance()
            absorb(parse_and())  # bare juxtaposition = default OR
        if not pos_clauses and not neg_clauses:
            return _DROPPED
        return _combine(pos_clauses, neg_clauses, Or)

    def parse_and():
        first = parse_unary()
        pos_clauses: list[Query] = []
        neg_clauses: list[Query] = []
        if isinstance(first, _Negated):
            neg_clauses.append(first.inner)
        elif first is not _DROPPED:
            pos_clauses.append(first)
        while peek() in ("AND", "&&"):
            advance()
            nxt = parse_unary()
            if isinstance(nxt, _Negated):
                neg_clauses.append(nxt.inner)
            elif nxt is not _DROPPED:
                pos_clauses.append(nxt)
        if not pos_clauses and not neg_clauses:
            return _DROPPED
        if not pos_clauses:
            if len(neg_clauses) == 1:
                return _Negated(neg_clauses[0])
            return _Negated(Or(tuple(neg_clauses)))
        return _combine(pos_clauses, neg_clauses, And)

    def parse_unary():
        t = peek()
        if t is None:
            raise QueryParseError("unexpected end of query")
        if t in ("NOT", "!"):
            advance()
            nxt = parse_unary()
            if nxt is _DROPPED:
                return _DROPPED  # negation of a dropped clause drops too
            if isinstance(nxt, _Negated):
                return nxt.inner  # double negation
            return _Negated(nxt)
        if t.startswith("-") and len(t) > 1 and not t[1].isdigit():
            advance()
            a = _atom(t[1:])
            return _DROPPED if a is _DROPPED else _Negated(a)
        return parse_primary()

    def parse_primary() -> Query:
        t = advance()
        if t == "(":
            q = parse_or()
            if peek() != ")":
                raise QueryParseError("missing closing paren")
            advance()
            return q
        if t == ")":
            raise QueryParseError("unexpected )")
        if t[0] in "[{":  # term range: [a TO b] / {a TO b}
            parts = [t]
            while parts[-1][-1] not in "]}":
                if peek() is None:
                    raise QueryParseError("unterminated range")
                parts.append(advance())
            joined = " ".join(parts)
            m = re.match(r"^([\[{])\s*(\S+)\s+TO\s+(\S+?)\s*([\]}])$", joined)
            if not m:
                raise QueryParseError(f"bad range: {joined!r}")
            # a bare * bound is open, as in the classic QueryParser
            lo, hi = (None if b == "*" else b.lower() for b in m.group(2, 3))
            return MultiTerm("range", (lo, hi, m.group(1) == "[",
                                       m.group(4) == "]"))
        atom = _atom(t)
        nxt = peek()
        suffix = PHRASE_SUFFIX_RE.fullmatch(nxt) if nxt else None
        if (t.startswith('"') or atom is _DROPPED
                or isinstance(atom, Phrase)) and suffix:
            advance()  # phrase slop and boost: "a b"~2^3
            atom = phrase_suffix(atom, suffix)
        return atom

    def _atom(t: str) -> Query:
        q = atom(t, stopwords)
        return _DROPPED if q is None else q  # stopped-away clause dropped

    if not toks:
        raise QueryParseError("empty query")
    q = parse_or()
    if peek() is not None:
        raise QueryParseError(f"trailing input at {peek()!r}")
    if q is _DROPPED:
        # every clause was stopped away; the reference returns an empty
        # BooleanQuery (matches nothing) — we surface that as an error
        # rather than a silent empty result
        raise QueryParseError("query analyzed to nothing (all clauses "
                              "were stopwords)")
    return q
