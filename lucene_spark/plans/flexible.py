"""StandardQueryParser (flexible) subset.

Reference: ``queryparser/flexible/standard/StandardQueryParser.java:115``
driving ``parser/StandardSyntaxParser.jj`` through the query-node
pipeline (``StandardQueryNodeProcessorPipeline`` →
``StandardQueryTreeBuilder``). We parse the same surface syntax straight
onto the :mod:`lucene_spark.plans.query` dataclasses — the node-pipeline
architecture exists in the reference to let applications splice
processors; here Catalyst is the rewrite pipeline, so the tree goes
direct.

Supported surface (the standard-syntax features beyond the classic
parser, plus everything classic supports):

* occurs modifiers ``+term`` (MUST) / ``-term`` (MUST_NOT) mixing with
  bare SHOULD clauses — built through :func:`plans.query.bool_query`
  onto ReqOptSumScorer semantics, exactly BooleanQuery's MUST+SHOULD mix
  (``ModifierQueryNode`` → ``BooleanQuery2ModifierNodeProcessor``);
* configurable default operator (``StandardQueryParser
  .setDefaultOperator``, default OR);
* regexp terms ``/pattern/`` (``RegexpQueryNode``);
* interval functions ``fn:ordered(...)``, ``fn:unordered``, ``fn:or``,
  ``fn:phrase``, ``fn:maxgaps(n ...)``, ``fn:maxwidth(n ...)``,
  ``fn:atLeast(n ...)``, ``fn:before/after(a b)``,
  ``fn:within/notWithin(a n b)``, ``fn:containing/notContaining``,
  ``fn:containedBy/notContainedBy``, ``fn:overlapping/nonOverlapping``,
  ``fn:extend(a n m)``, ``fn:unorderedNoOverlaps(a b)`` (reference
  ``flexible/standard/parser/StandardSyntaxParser.jj`` IntervalFun
  productions + ``nodes/IntervalQueryNode.java``), mapped onto the
  :mod:`functions.intervals` tree grammar;
* AND/OR/NOT (and ``&&``/``||``/``!``), parens, quoted phrases with
  ``~slop``, boosts ``^n``, fuzzy ``term~[edits]``, wildcard/prefix,
  term ranges ``[a TO b]`` / ``{a TO b}``, ``field:`` prefixes (single
  content field — the field name is accepted and dropped, like the
  classic parser here).

* PointsConfig numeric ranges (``flexible/standard/config/PointsConfig
  .java`` + ``processors/PointQueryNodeProcessor.java`` /
  ``PointRangeQueryNodeProcessor.java`` /
  ``builders/PointRangeQueryNodeBuilder.java``): pass
  ``points_config={"field": "int"|"long"|"float"|"double"}`` — a range
  on a configured field parses its bounds numerically (NumberFormat
  truncation for the integer types), applies the builder's
  exclusive-bound adjustment (±1 for int/long, nextUp/nextDown for
  float/double) and open-end ``*`` → unbounded, yielding a
  :class:`plans.query.PointRange`; a BARE term on a configured field
  becomes the degenerate inclusive [v, v] range
  (PointQueryNodeProcessor).

Documented out of scope: per-field analyzer maps (single-field engine).
"""

from __future__ import annotations

import re

from ..functions.analysis import analyze_text
from . import query as Q
from .parser import (PHRASE_SUFFIX_RE, QueryParseError, atom, phrase_suffix,
                     split_atom)

_TOKEN_RE = re.compile(
    r'"[^"]*"'            # quoted phrase
    r'|/(?:[^/\\]|\\.)*/'  # regexp
    r'|fn:\w+'            # interval function head
    r'|&&|\|\|'
    r'|[()\[\]{}]'
    r'|[^\s()\[\]{}]+'    # bare term (may carry +/-/^/~ decorations)
)

#: fn name (lowercased) → interval tree kind for the plain
#: children-tuple shapes; numeric-argument shapes are special-cased.
_FN_NARY = {"ordered": "ordered", "unordered": "unordered",
            "phrase": "phrase", "or": "or"}
_FN_PAIR = {"before": "before", "after": "after",
            "containing": "containing", "notcontaining": "not_containing",
            "containedby": "contained_by",
            "notcontainedby": "not_contained_by",
            "overlapping": "overlapping",
            "nonoverlapping": "non_overlapping",
            "unorderednooverlaps": "unordered_no_overlaps"}


def _point_value(text: str, typ: str):
    """NumberFormat.parse + the type coercion PointRangeQueryNode-
    Processor applies (intValue()/longValue() truncate toward zero)."""
    try:
        v = float(text)
    except ValueError:
        raise QueryParseError(f"could not parse number: {text!r}")
    if typ in ("int", "long"):
        return int(v)
    if typ == "float":
        import numpy as np
        return float(np.float32(v))
    return v


def _point_bound(text, typ: str, is_lower: bool, inclusive: bool):
    """One range bound: '*'/empty = open (the builder substitutes
    MIN/MAX — None here, same match set), exclusive bounds adjusted per
    PointRangeQueryNodeBuilder (±1 int/long; nextUp/nextDown floats,
    in the type's OWN precision)."""
    if text is None or text in ("*", ""):
        return None
    v = _point_value(text, typ)
    if inclusive:
        return v
    if typ in ("int", "long"):
        return v + 1 if is_lower else v - 1
    if typ == "float":
        import numpy as np
        return float(np.nextafter(
            np.float32(v), np.float32(np.inf if is_lower else -np.inf)))
    import math
    return math.nextafter(v, math.inf if is_lower else -math.inf)


def parse_standard(text: str, default_operator: str = "OR",
                   stopwords: frozenset[str] = frozenset(),
                   points_config: dict | None = None) -> Q.Query:
    """Parse standard (flexible) syntax into a query tree."""
    if default_operator not in ("OR", "AND"):
        raise QueryParseError(f"bad default operator {default_operator!r}")
    points_config = points_config or {}
    toks = _TOKEN_RE.findall(text)
    if not toks:
        raise QueryParseError("empty query")
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def advance():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    # ---- boolean layer ---------------------------------------------------
    def parse_bool() -> Q.Query:
        """One paren level: clauses with occurs, connected by optional
        AND/OR. Explicit AND promotes BOTH operands to MUST (the
        standard parser's BooleanModifiersQueryNodeProcessor); explicit
        OR keeps SHOULD; bare juxtaposition takes the default
        operator."""
        must: list[Q.Query] = []
        should: list[Q.Query] = []
        must_not: list[Q.Query] = []

        def absorb(occ, q):
            (must if occ == "+" else
             must_not if occ == "-" else should).append(q)

        occ, q = parse_clause()
        absorb(occ, q)
        last_bare = occ == ""
        while peek() is not None and peek() != ")":
            conn = None
            if peek() in ("AND", "&&", "OR", "||"):
                conn = advance()
                if peek() is None or peek() == ")":
                    raise QueryParseError(f"dangling {conn!r}")
            occ2, q2 = parse_clause()
            eff = conn if conn in ("AND", "&&", "OR", "||") else None
            is_and = (eff in ("AND", "&&")) or \
                (eff is None and default_operator == "AND")
            if is_and:
                # promote the previous bare clause and this one to MUST
                if occ2 == "":
                    occ2 = "+"
                if last_bare and should:
                    must.append(should.pop())
            absorb(occ2, q2)
            last_bare = occ2 == ""
        try:
            return Q.bool_query(tuple(must), tuple(should),
                                tuple(must_not))
        except ValueError as e:
            raise QueryParseError(str(e)) from e

    def parse_clause() -> tuple[str, Q.Query]:
        t = peek()
        if t is None:
            raise QueryParseError("unexpected end of query")
        if t in ("NOT", "!"):
            advance()
            _, q = parse_clause()
            return "-", q
        occ = ""
        if t in ("+", "-"):            # modifier on a group: +( ... )
            occ = t
            advance()
            t = peek()
            if t is None:
                raise QueryParseError(f"dangling {occ!r}")
        elif t[0] in "+-" and len(t) > 1 and not t[1].isdigit() \
                and t not in ("&&", "||"):
            occ = t[0]
            toks[pos] = t[1:]          # strip the modifier, re-read
            t = toks[pos]
        if t == "(":
            advance()
            q = parse_bool()
            if peek() != ")":
                raise QueryParseError("missing closing paren")
            advance()
            q = _maybe_boost(q)
            return occ, q
        return occ, parse_primary()

    def _maybe_boost(q: Q.Query) -> Q.Query:
        nxt = peek()
        if nxt and re.match(r"^\^\d+(?:\.\d+)?$", nxt):
            advance()
            b = float(nxt[1:])
            if isinstance(q, Q.Term):
                return Q.Term(q.term, q.boost * b)
            if isinstance(q, Q.Interval):
                return Q.Interval(q.tree, q.pivot, q.boost * b)
            if isinstance(q, Q.PointRange):
                return Q.PointRange(q.field, q.lower, q.upper,
                                    q.boost * b)
            # BoostQueryNode over a composite: multiply into every leaf
            # term — identical scores for pure-sum trees
            raise QueryParseError("boost on composite clause unsupported")
        return q

    # ---- primary terms ----------------------------------------------------
    def parse_primary() -> Q.Query:
        t = advance()
        if t == ")":
            raise QueryParseError("unexpected )")
        range_field = None
        if t.endswith(":") and len(t) > 1 and peek() in ("[", "{"):
            range_field = t[:-1]       # field-prefixed range
            t = advance()
        if t.startswith("fn:"):
            return Q.Interval(parse_fn(t[3:].lower()))
        if t.startswith("/") and t.endswith("/") and len(t) >= 2:
            return Q.MultiTerm("regexp", t[1:-1])
        if t in "[{":
            lo = advance() if peek() else None
            to = advance() if peek() else None
            hi = advance() if peek() else None
            close = advance() if peek() else None
            if to != "TO" or close not in ("]", "}") or not lo or not hi:
                raise QueryParseError("bad range syntax")
            if range_field in points_config:
                typ = points_config[range_field]
                return Q.PointRange(
                    range_field,
                    _point_bound(lo, typ, True, t == "["),
                    _point_bound(hi, typ, False, close == "]"))
            # a bare * bound is open (OpenRangeQueryNodeProcessor)
            return Q.MultiTerm("range", tuple(
                None if b == "*" else b.lower() for b in (lo, hi)) + (
                t == "[", close == "]"))
        return _atom(t)

    def _atom(t: str) -> Q.Query:
        fld, text, boost = split_atom(t)
        if fld in points_config:
            # PointQueryNodeProcessor: exact value = [v, v] inclusive
            v = _point_value(text, points_config[fld])
            return Q.PointRange(fld, v, v, boost)
        quoted = text.startswith('"')
        if quoted and not (text.endswith('"') and len(text) >= 2):
            raise QueryParseError(f"unterminated phrase: {text}")
        q = atom(t, stopwords)
        if q is None:
            raise QueryParseError(f"empty phrase: {text}" if quoted else
                                  f"term analyzed to nothing: {text!r}")
        if quoted and peek() and (
                suffix := PHRASE_SUFFIX_RE.fullmatch(peek())):
            advance()  # "a b"~2^3
            q = phrase_suffix(q, suffix)
        return q

    # ---- interval functions -----------------------------------------------
    def parse_fn(name: str) -> tuple:
        if peek() != "(":
            raise QueryParseError(f"fn:{name} needs parenthesized args")
        advance()
        args: list = []
        while peek() is not None and peek() != ")":
            args.append(parse_fn_arg())
        if peek() != ")":
            raise QueryParseError(f"unterminated fn:{name}(")
        advance()
        return _fn_tree(name, args)

    def parse_fn_arg():
        t = advance()
        if t.startswith("fn:"):
            return parse_fn(t[3:].lower())
        if re.fullmatch(r"\d+", t):
            return int(t)
        if t.startswith('"') and t.endswith('"') and len(t) >= 2:
            terms, _, _ = analyze_text(t[1:-1], stopwords=stopwords)
            if not terms:
                raise QueryParseError(f"empty phrase in fn: {t}")
            if len(terms) == 1:
                return ("term", terms[0])
            return ("phrase", tuple(("term", w) for w in terms))
        terms, _, _ = analyze_text(t, stopwords=stopwords)
        if len(terms) != 1:
            raise QueryParseError(f"bad interval term {t!r}")
        return ("term", terms[0])

    def _ivals(args):
        bad = [a for a in args if isinstance(a, int)]
        if bad:
            raise QueryParseError(f"unexpected number in fn args: {bad}")
        return tuple(args)

    def _fn_tree(name: str, args: list) -> tuple:
        if name in _FN_NARY:
            if not args:
                raise QueryParseError(f"fn:{name} needs arguments")
            return (_FN_NARY[name], _ivals(args))
        if name in _FN_PAIR:
            if len(args) != 2:
                raise QueryParseError(f"fn:{name} takes exactly 2 args")
            return (_FN_PAIR[name],) + _ivals(args)
        if name in ("maxgaps", "maxwidth"):
            if len(args) != 2 or not isinstance(args[0], int):
                raise QueryParseError(f"fn:{name}(n source)")
            return (name, args[1], args[0])
        if name == "atleast":
            if len(args) < 2 or not isinstance(args[0], int):
                raise QueryParseError("fn:atLeast(n sources...)")
            return ("atleast", args[0], _ivals(args[1:]))
        if name in ("within", "notwithin"):
            if len(args) != 3 or not isinstance(args[1], int):
                raise QueryParseError(f"fn:{name}(a n b)")
            kind = "within" if name == "within" else "not_within"
            return (kind, args[0], args[1], args[2])
        if name == "extend":
            if len(args) != 3 or not isinstance(args[1], int) \
                    or not isinstance(args[2], int):
                raise QueryParseError("fn:extend(source n m)")
            return ("extend", args[0], args[1], args[2])
        raise QueryParseError(f"unknown interval function fn:{name}")

    q = parse_bool()
    if peek() is not None:
        raise QueryParseError(f"trailing input at {peek()!r}")
    return q
