"""Logical query tree + rewrite rules.

The node set covers the reference query algebra we execute (reference
``search/TermQuery.java``, ``BooleanQuery.java``, ``PhraseQuery.java``,
``SynonymQuery.java``); rewrites mirror ``BooleanQuery.rewrite``'s
single-clause collapse / flattening / dedup (``BooleanQuery.java:242+``).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache


class Query:
    def rewrite(self) -> "Query":
        return self

    def scoring_terms(self) -> list[str]:
        """Positive scoring terms (stats gathering)."""
        return []

    def all_terms(self) -> list[str]:
        """Every referenced term incl. negated/phrase clauses (the postings
        rows the executor must fetch)."""
        return self.scoring_terms()


@dataclass(frozen=True)
class Term(Query):
    term: str
    boost: float = 1.0

    def scoring_terms(self):
        return [self.term]


@dataclass(frozen=True)
class Phrase(Query):
    """PhraseQuery (reference ``search/PhraseQuery.java``): exact
    phrase when ``slop == 0`` (``ExactPhraseMatcher``); with slop > 0,
    the reference's ``SloppyPhraseMatcher`` walk
    (``search/SloppyPhraseMatcher.java:53``) over offset-adjusted
    positions — each match contributes ``1/(1 + matchLength)`` when
    ``matchLength <= slop``, accumulated as a float32 chain. Duplicate
    clause terms run the reference's repeats machinery (advanceRpts).
    The engine and Monitor run a phrase as a :class:`MultiPhrase` of
    one-term slots.

    ``positions`` (optional) are the reference's explicit builder
    positions (``PhraseQuery.Builder.add(Term, int position)``,
    ``search/PhraseQuery.java:103`` — e.g. holes left by StopFilter):
    clause j must land at ``start + positions[j]`` when exact, and is
    offset-adjusted by ``-positions[j]`` when sloppy. None means the
    consecutive default ``(0, 1, ..., n-1)``; explicit positions must be
    strictly increasing."""
    terms: tuple[str, ...]
    slop: int = 0
    positions: tuple[int, ...] | None = None

    def rewrite(self):
        # PhraseQuery.rewrite: a one-term phrase is a TermQuery, whatever
        # its slop or position
        return Term(self.terms[0]) if len(self.terms) == 1 else self

    def all_terms(self):
        return list(dict.fromkeys(self.terms))


@dataclass(frozen=True)
class MultiPhrase(Query):
    """MultiPhraseQuery (reference ``search/MultiPhraseQuery.java:57``):
    an exact phrase where each position holds a SET of alternative
    terms (the classic "app* as multiphrase" / query-time-synonym
    shape). A position matches when ANY of its terms occurs there
    (UnionPostingsEnum — duplicate (doc, pos) hits across alternatives
    count once); phrase freq accumulates per matching start position.
    Weight follows the reference's stats gathering: idf summed over
    every term with df > 0 across all positions (PER OCCURRENCE across
    slots — a term shared by two slots contributes idf twice,
    ``MultiPhraseQuery.java:227-237``).

    ``slop`` > 0 engages the SloppyPhraseMatcher over the union
    streams, including the multi-term repeats machinery
    (hasMultiTermRpts "hidden collisions",
    ``SloppyPhraseMatcher.java:286-466``) when slots share terms.
    ``positions`` (optional, strictly increasing, one per slot) are
    the builder positions of ``MultiPhraseQuery.Builder.add(terms,
    position)``."""
    slots: tuple[tuple[str, ...], ...]
    slop: int = 0
    positions: tuple[int, ...] | None = None

    def all_terms(self):
        return list(dict.fromkeys(t for s in self.slots for t in s))


@dataclass(frozen=True)
class SpanNear(Query):
    """SpanNearQuery (reference ``queries/spans/SpanNearQuery.java``):
    all clauses within ``slop`` positions, ordered or not, scored with
    sloppyFreq 1/(1+matchLength) per match (greedy/minimal-window
    semantics documented in ``functions/spans.py``). Clauses are term
    strings, or — like the reference's ``SpanNearQuery(SpanQuery...)`` —
    nested span queries (SpanNear/SpanOr/...); duplicate TERM clauses
    are fully supported (multiset kernel / per-doc heap walk — pinned
    by tests/data/lucene_diff/spanalg_repeat_fuzz.tsv.gz)."""
    terms: tuple  # str | span Query per clause
    slop: int = 0
    in_order: bool = True

    def scoring_terms(self):
        out = []
        for t in self.terms:
            if isinstance(t, str):
                out.append(t)
            else:
                out.extend(t.scoring_terms())
        return list(dict.fromkeys(out))

    def all_terms(self):
        out = []
        for t in self.terms:
            if isinstance(t, str):
                out.append(t)
            else:
                out.extend(t.all_terms())
        return list(dict.fromkeys(out))


@dataclass(frozen=True)
class SpanOr(Query):
    """SpanOrQuery (reference ``queries/spans/SpanOrQuery.java``): the
    union of the clause span streams; every emitted span keeps its own
    width, so freq = Σ over all clause spans of 1/(1+width). Clauses may
    be Term (SpanTermQuery role, width 0), SpanNear, SpanOr, SpanNot,
    SpanFirst or SpanMultiTermWrapper."""
    clauses: tuple[Query, ...]

    def scoring_terms(self):
        out = []
        for c in self.clauses:
            out.extend(c.scoring_terms())
        return list(dict.fromkeys(out))

    def all_terms(self):
        out = []
        for c in self.clauses:
            out.extend(c.all_terms())
        return list(dict.fromkeys(out))


@dataclass(frozen=True)
class SpanNot(Query):
    """SpanNotQuery (reference ``queries/spans/SpanNotQuery.java``):
    spans of ``include`` that do not overlap any span of ``exclude``
    within ``pre`` tokens before / ``post`` tokens after the include
    span (the 4-arg constructor; defaults 0 = plain exclusion). The
    similarity weight is built from the include side only
    (``SpanNotQuery.java:117`` passes includeWeight's termStates)."""
    include: Query
    exclude: Query
    pre: int = 0
    post: int = 0

    def scoring_terms(self):
        return self.include.scoring_terms()

    def all_terms(self):
        return list(dict.fromkeys(self.include.all_terms()
                                  + self.exclude.all_terms()))


@dataclass(frozen=True)
class SpanFirst(Query):
    """SpanFirstQuery (reference ``queries/spans/SpanFirstQuery.java``):
    spans of ``match`` whose end position is <= ``end``."""
    match: Query
    end: int

    def scoring_terms(self):
        return self.match.scoring_terms()

    def all_terms(self):
        return self.match.all_terms()


@dataclass(frozen=True)
class SpanPositionRange(Query):
    """SpanPositionRangeQuery (reference ``queries/spans/
    SpanPositionRangeQuery.java``): spans of ``match`` with start >=
    ``start`` AND end <= ``end``; SpanFirstQuery is the ``start=0``
    special case (``SpanFirstQuery.java:38-42``)."""
    match: Query
    start: int
    end: int

    def scoring_terms(self):
        return self.match.scoring_terms()

    def all_terms(self):
        return self.match.all_terms()


@dataclass(frozen=True)
class SpanContaining(Query):
    """SpanContainingQuery (reference ``queries/spans/
    SpanContainingQuery.java``): spans of ``big`` that contain at least
    one span of ``little``; each big span is emitted once with its own
    width. Weight from both sides' termStates (SpanContainQuery)."""
    big: Query
    little: Query

    def scoring_terms(self):
        return list(dict.fromkeys(self.big.scoring_terms()
                                  + self.little.scoring_terms()))

    def all_terms(self):
        return list(dict.fromkeys(self.big.all_terms()
                                  + self.little.all_terms()))


@dataclass(frozen=True)
class SpanWithin(Query):
    """SpanWithinQuery (reference ``queries/spans/SpanWithinQuery.java``):
    spans of ``little`` contained in at least one span of ``big``."""
    little: Query
    big: Query

    def scoring_terms(self):
        return list(dict.fromkeys(self.little.scoring_terms()
                                  + self.big.scoring_terms()))

    def all_terms(self):
        return list(dict.fromkeys(self.little.all_terms()
                                  + self.big.all_terms()))


@dataclass(frozen=True)
class SpanMultiTermWrapper(Query):
    """SpanMultiTermQueryWrapper (reference ``queries/spans/
    SpanMultiTermQueryWrapper.java``): lifts a MultiTerm query into span
    algebra — expanded against the dictionary at rewrite time into a
    SpanOr of term spans."""
    query: MultiTerm

    def all_terms(self):
        return []  # terms known only after expansion


@dataclass(frozen=True)
class Synonym(Query):
    """Multiple terms scored as one pseudo-term: df = max, ttf = sum
    (reference SynonymQuery.java:196-216). Optional per-term ``boosts``
    (Builder.addTerm(term, boost), each in (0, 1]) blend the per-doc
    frequency: freq = sum of boost_i * tf_i (DisiWrapperFreq.freq()),
    stats stay unboosted."""
    terms: tuple[str, ...]
    boosts: tuple[float, ...] | None = None

    def scoring_terms(self):
        return list(dict.fromkeys(self.terms))


@dataclass(frozen=True)
class MultiTerm(Query):
    """Prefix / wildcard / fuzzy / term-range query. Expanded against the
    term dictionary at weight-creation time (reference
    ``search/MultiTermQuery.java:55``) and executed with the default
    CONSTANT_SCORE rewrite: every matching doc scores ``boost``
    (``MultiTermQuery.java:83`` CONSTANT_SCORE_REWRITE).

    What each kind matches is :func:`term_matcher`'s definition, shared
    by the Searcher's dictionary expansion and Monitor's percolation:

    - 'prefix': value = the prefix, compared as plain text (PrefixQuery);
    - 'wildcard': value = a WildcardQuery pattern — ``*`` any run, ``?``
      any one char, ``\\`` escapes the next char, every other char is
      literal;
    - 'regexp': value = a Python regular expression matched against the
      whole term (``re.fullmatch``), the RegexpQuery role. The dialect is
      Python's, not Lucene's ``RegExp``: ``<1-10>``, ``@``, ``#``, ``&``
      and ``~`` are not operators here;
    - 'fuzzy': value = the term, with ``edits`` the max Levenshtein
      distance (no transpositions, which FuzzyQuery counts as one edit
      by default);
    - 'range': value = ``(lo, hi, lo_inclusive, hi_inclusive)``
      (TermRangeQuery); a ``None`` bound is open.
    """
    kind: str
    value: object
    edits: int = 2
    boost: float = 1.0
    #: fuzzy only — the reference's DEFAULT fuzzy rewrite is
    #: TopTermsBlendedFreqScoringRewrite (FuzzyQuery.java:100): expanded
    #: terms are scored with blended stats (df=max, ttf=sum) and per-term
    #: boost 1 - ed/minTermLength, summed as SHOULD. scored=False keeps
    #: the CONSTANT_SCORE rewrite used by the other MultiTerm kinds.
    scored: bool = False

    def all_terms(self):
        return []  # terms known only after expansion

    @property
    def expansion(self) -> tuple[str, object]:
        """The ``(kind, value)`` pair :func:`term_matcher` and
        ``Searcher.expand_terms`` take: a fuzzy value is ``(term, edits)``."""
        if self.kind == "fuzzy":
            return self.kind, (str(self.value), self.edits)
        return self.kind, self.value


def edit_distances(terms, base: str, max_edits: int):
    """Levenshtein distance in code points of each of ``terms`` to
    ``base``, as an int array where every distance above ``max_edits``
    reads ``max_edits + 1``. Terms outside the length band never enter
    the DP, and a term leaves it at the first row whose minimum is above
    the bound. The DP runs over all terms at once: rows walk ``base``,
    columns the terms' code points."""
    import numpy as np
    cap = max_edits + 1
    lens = np.fromiter(map(len, terms), dtype=np.int64, count=len(terms))
    out = np.full(len(terms), cap, dtype=np.int64)
    idx = np.flatnonzero(np.abs(lens - len(base)) <= max_edits)
    width = max(len(base) + max_edits, 1)  # the longest term in the band
    codes = np.array([terms[i] for i in idx], dtype=f"<U{width}") \
        .view(np.uint32).reshape(len(idx), width)
    cols = np.arange(width + 1, dtype=np.int32)
    row = np.broadcast_to(cols, (len(idx), width + 1))
    for i, c in enumerate(base, 1):
        # substitution or deletion, then insertions as a running minimum
        # along the row: cur[j] = min over m <= j of x[m] + (j - m)
        x = np.empty_like(row)
        x[:, 0] = i
        np.add(row[:, :-1], codes != ord(c), out=x[:, 1:])
        np.minimum(x[:, 1:], row[:, 1:] + 1, out=x[:, 1:])
        x -= cols
        np.minimum.accumulate(x, axis=1, out=x)
        row = x + cols
        live = row.min(axis=1) <= max_edits
        if not live.all():
            idx, codes, row = idx[live], codes[live], row[live]
    out[idx] = np.minimum(row[np.arange(len(idx)), lens[idx]], cap)
    return out


def _prefix_end(prefix: str) -> str | None:
    """The least string above every string that starts with ``prefix``
    (None: there is none), skipping the surrogates UTF-8 cannot hold."""
    prefix = prefix.rstrip("\U0010ffff")
    if not prefix:
        return None
    c = ord(prefix[-1]) + 1
    return prefix[:-1] + chr(0xE000 if c == 0xD800 else c)


@lru_cache(maxsize=1024)  # Monitor asks again for every batch
def term_matcher(kind: str, value) -> tuple[tuple, object]:
    """What a multi-term query of ``kind`` matches (see :class:`MultiTerm`
    for each value's shape): ``(bounds, select)``. ``bounds`` is a tuple
    of ``(op, term)`` comparisons that every accepted term satisfies, in
    UTF-8 byte order — the dictionary range a reader can push down —
    and ``select(terms)`` is the exact test: the accepted terms of an
    iterable, in its order. Regexp, fuzzy and a wildcard that starts with
    ``*`` or ``?`` have no bounds."""
    import re

    def select(accepts):
        return lambda terms: [t for t in terms if accepts(t)]

    if kind == "prefix":
        p = str(value)
        return (tuple(b for b in ((">=", p), ("<", _prefix_end(p))) if b[1]),
                select(lambda t: t.startswith(p)))
    if kind == "wildcard":
        # (escaped char, operator, plain char); a trailing \ is plain
        toks = re.findall(r"\\(.)|([*?])|(.)", str(value), re.DOTALL)
        n = next((i for i, (_, op, _) in enumerate(toks) if op), len(toks))
        pat = re.compile("".join(
            ".*" if op == "*" else "." if op else re.escape(e + c)
            for e, op, c in toks), re.DOTALL)
        return (term_matcher("prefix", "".join(e + c for e, _, c in
                                               toks[:n]))[0],
                select(lambda t: pat.fullmatch(t) is not None))
    if kind == "regexp":
        pat = re.compile(str(value))
        return (), select(lambda t: pat.fullmatch(t) is not None)
    if kind == "fuzzy":
        base, edits = str(value[0]), int(value[1])

        def fuzzy(terms):
            terms = list(terms)
            return [t for t, d in zip(terms, edit_distances(terms, base,
                                                            edits))
                    if d <= edits]
        return (), fuzzy
    if kind == "range":
        lo, hi, lo_inc, hi_inc = value
        bounds = tuple(b for b in ((">=", lo), ("<=", hi)) if b[1])
        return bounds, select(lambda t: (
            (lo is None or lo < t or (lo_inc and t == lo))
            and (hi is None or t < hi or (hi_inc and t == hi))))
    raise ValueError(f"unknown MultiTerm kind {kind!r}")


def ngram_phrase_rewrite(n: int, phrase: "Phrase") -> "Phrase":
    """NGramPhraseQuery.rewrite (reference ``search/NGramPhraseQuery
    .java:33-58``): a zero-slop phrase of ≥3 CONSECUTIVE n-grams (n ≥ 2)
    keeps only every n-th gram plus the last, at their ORIGINAL
    positions — the dropped grams are implied by the kept ones on a
    gram-tokenized field, so the rewritten (cheaper) phrase is
    match-equivalent. Non-optimizable shapes return the phrase
    unchanged, like the reference's fall-through."""
    positions = phrase.positions or tuple(range(len(phrase.terms)))
    optimizable = (phrase.slop == 0 and n >= 2 and len(phrase.terms) >= 3
                   and all(positions[i] == positions[i - 1] + 1
                           for i in range(1, len(positions))))
    if not optimizable:
        return phrase
    keep = [i for i in range(len(phrase.terms))
            if i % n == 0 or i == len(phrase.terms) - 1]
    return Phrase(tuple(phrase.terms[i] for i in keep), slop=0,
                  positions=tuple(positions[i] for i in keep))


@dataclass(frozen=True)
class IndriAnd(Query):
    """IndriAndQuery (reference ``search/IndriAndQuery.java`` +
    ``IndriAndScorer.java:15-41``): over the UNION of the clause match
    sets, every clause contributes — its real Indri score where it
    matches, its smoothing score (freq = 0 collection probability)
    where it doesn't — and the document scores the boost-weighted MEAN:
    (Σ boost·s) / Σ boost, double accumulation, one float32 cast.
    Requires the IndriDirichlet similarity (the reference's scorers must
    be IndriScorers)."""
    terms: tuple[str, ...]
    boosts: tuple[float, ...] | None = None

    def all_terms(self):
        return list(self.terms)


@dataclass(frozen=True)
class FuzzyLikeThis(Query):
    """FuzzyLikeThisQuery (reference ``sandbox/queries/FuzzyLikeThisQuery
    .java:118-255``): analyze ``text``, fuzzy-expand each unique token
    (≤ ``max_variants_per_term`` variants by FuzzyTermsEnum boost), score
    each variant ``boost² · ClassicSimilarity.idf(df(source), numDocs)``
    (falling back to the variants' integer-mean df when the source term
    is absent), keep the global top ``max_num_terms`` variants, and
    rewrite to a SHOULD-sum of per-variant term queries carrying
    ARTIFICIAL df=1/ttf=1 stats with the variant score as boost
    (``newTermQuery``'s synthetic TermStates, ``:183-200``)."""
    text: str
    max_edits: int = 1
    prefix_len: int = 0
    max_num_terms: int = 50
    max_variants_per_term: int = 50

    def all_terms(self):
        return []  # terms known only after expansion


def _dedup_flatten(clauses, node_type):
    if isinstance(node_type, type):
        t = node_type
        node_type = lambda c: isinstance(c, t)  # noqa: E731
    flat: list[Query] = []
    for c in clauses:
        flat.extend(c.clauses if node_type(c) else (c,))
    return tuple(dict.fromkeys(flat))


@dataclass(frozen=True)
class Or(Query):
    """SHOULD disjunction; ``min_should_match`` > 1 requires that many
    clauses to match (reference ``BooleanQuery.Builder
    .setMinimumNumberShouldMatch``). Flattening is suppressed when msm is
    set — clause identity then carries meaning."""
    clauses: tuple[Query, ...]
    min_should_match: int = 0

    def rewrite(self):
        if self.min_should_match > 1:
            return Or(tuple(c.rewrite() for c in self.clauses),
                      self.min_should_match)
        cls = _dedup_flatten(
            (c.rewrite() for c in self.clauses),
            lambda c: isinstance(c, Or) and c.min_should_match <= 1)
        return cls[0] if len(cls) == 1 else Or(cls)

    def scoring_terms(self):
        out = []
        for c in self.clauses:
            out.extend(c.scoring_terms())
        return list(dict.fromkeys(out))

    def all_terms(self):
        out = []
        for c in self.clauses:
            out.extend(c.all_terms())
        return list(dict.fromkeys(out))


@dataclass(frozen=True)
class And(Query):
    clauses: tuple[Query, ...]

    def rewrite(self):
        cls = _dedup_flatten((c.rewrite() for c in self.clauses), And)
        return cls[0] if len(cls) == 1 else And(cls)

    scoring_terms = Or.scoring_terms
    all_terms = Or.all_terms


@dataclass(frozen=True)
class DisMax(Query):
    """Disjunction-max: score = max(clause scores) + tie_breaker * (sum -
    max) (reference ``search/DisjunctionMaxQuery.java``)."""
    clauses: tuple[Query, ...]
    tie_breaker: float = 0.0

    def rewrite(self):
        cls = tuple(dict.fromkeys(c.rewrite() for c in self.clauses))
        return cls[0] if len(cls) == 1 else DisMax(cls, self.tie_breaker)

    scoring_terms = Or.scoring_terms
    all_terms = Or.all_terms


@dataclass(frozen=True)
class Not(Query):
    """Positive clause + MUST_NOT exclusion (ReqExclScorer shape)."""
    positive: Query
    negative: Query

    def rewrite(self):
        return Not(self.positive.rewrite(), self.negative.rewrite())

    def scoring_terms(self):
        return self.positive.scoring_terms()

    def all_terms(self):
        return list(dict.fromkeys(self.positive.all_terms()
                                  + self.negative.all_terms()))


@dataclass(frozen=True)
class ReqFilter(Query):
    """Positive clause + a non-scoring FILTER clause (reference
    ``BooleanClause.Occur.FILTER``: ``BooleanWeight`` builds the filter
    as a required conjunct whose score is discarded —
    ``search/BooleanWeight.java``; the match set intersects, the score
    is the positive clause's alone)."""
    positive: Query
    filter: Query

    def rewrite(self):
        return ReqFilter(self.positive.rewrite(), self.filter.rewrite())

    def scoring_terms(self):
        return self.positive.scoring_terms()

    def all_terms(self):
        return list(dict.fromkeys(self.positive.all_terms()
                                  + self.filter.all_terms()))


@dataclass(frozen=True)
class ReqOpt(Query):
    """Required + optional-scoring pair (reference
    ``search/ReqOptSumScorer.java``): the match set is ``required``'s;
    ``optional``'s score is added on docs where both match. This is the
    BooleanQuery MUST+SHOULD mix (``BooleanWeight.java`` builds exactly
    this scorer when both occur kinds are present)."""
    required: Query
    optional: Query

    def rewrite(self):
        return ReqOpt(self.required.rewrite(), self.optional.rewrite())

    def scoring_terms(self):
        return list(dict.fromkeys(self.required.scoring_terms()
                                  + self.optional.scoring_terms()))

    def all_terms(self):
        return list(dict.fromkeys(self.required.all_terms()
                                  + self.optional.all_terms()))


def bool_query(must: tuple = (), should: tuple = (),
               must_not: tuple = (), filters: tuple = ()) -> Query:
    """BooleanQuery with explicit occurs, decomposed onto the primitive
    nodes exactly as ``BooleanWeight`` composes scorers: MUST clauses
    conjoin; SHOULD clauses disjoin — optional-scoring via :class:`ReqOpt`
    when MUST clauses exist; MUST_NOT wraps the positive side in
    :class:`Not`. Pure-negative queries are rejected (reference behavior:
    no positive clause → no matches; surfaced as an error like the
    parsers do)."""
    must, should, must_not = tuple(must), tuple(should), tuple(must_not)
    if must and should:
        req = must[0] if len(must) == 1 else And(must)
        opt = should[0] if len(should) == 1 else Or(should)
        q: Query = ReqOpt(req, opt)
    elif must:
        q = must[0] if len(must) == 1 else And(must)
    elif should:
        q = should[0] if len(should) == 1 else Or(should)
    else:
        raise ValueError("boolean query has no positive clauses")
    for f in tuple(filters):
        q = ReqFilter(q, f)
    for n in must_not:
        q = Not(q, n)
    return q


@dataclass(frozen=True)
class CommonTerms(Query):
    """CommonTermsQuery (reference ``queries/CommonTermsQuery.java:54``,
    SHOULD/SHOULD occurs — the classic stopword-free ranking shape):
    terms split by document frequency at ``max_term_frequency`` (a
    fraction of docCount when < 1, absolute df otherwise; absent terms
    are low, matching the null-TermStates branch of buildQuery). Low-df
    terms form the REQUIRED group, high-df terms the OPTIONAL group —
    combined with ReqOptSumScorer semantics (required match set,
    optional scores added where they co-match). An empty low group
    rewrites the high group to a conjunction, like the reference's
    slow-query guard."""
    terms: tuple[str, ...]
    max_term_frequency: float = 0.01
    low_msm: int = 0
    high_msm: int = 0

    def scoring_terms(self):
        return list(dict.fromkeys(self.terms))

    all_terms = scoring_terms


@dataclass(frozen=True)
class Interval(Query):
    """IntervalQuery (reference ``queries/intervals/IntervalQuery.java:59``
    + the ``Intervals`` factory): matches docs where ``tree`` produces at
    least one minimal interval; score = ``boost * (1 - pivot /
    (pivot + freq))`` with freq = Σ 1/max(len - minExtent + 1, 1) —
    see ``functions/intervals.py`` for the tree grammar
    (term/orterms/ordered/unordered/phrase/maxgaps/maxwidth/
    containing/contained_by/not_*/or)."""
    tree: tuple
    pivot: float = 1.0
    boost: float = 1.0

    def scoring_terms(self):
        from ..functions.intervals import interval_tree_terms
        return list(dict.fromkeys(interval_tree_terms(self.tree)))

    all_terms = scoring_terms


@dataclass(frozen=True)
class SpanPayloadCheck(Query):
    """SpanPayloadCheckQuery (reference ``queries/payloads/
    SpanPayloadCheckQuery.java``, MatchOperation EQ): an exact
    phrase-shaped span over ``terms`` where position j's payload must
    equal ``payloads[j]`` (``None`` = any, the reference's wildcard
    slot); matches keep ordinary span scoring (freq = surviving span
    starts, idf-sum weight). Payloads come from the index-time
    DelimitedPayloadTokenFilter stream."""
    terms: tuple
    payloads: tuple

    def scoring_terms(self):
        return list(dict.fromkeys(self.terms))

    all_terms = scoring_terms


@dataclass(frozen=True)
class TermAutomaton(Query):
    """TermAutomatonQuery (reference ``sandbox/search/TermAutomatonQuery
    .java`` + ``TermAutomatonScorer.java:221-338``): an NFA over token
    positions. ``transitions`` = ((from_state, to_state, term-or-None),
    ...) with ``None`` meaning the ANY transition; state 0 is the start
    state; ``accepts`` are the accepting states. freq counts accepting
    PATH events (states carry multiplicity, accepts via ANY arcs alone
    do not count); weight = idf sum over the df>0 concrete terms, like
    the reference's allTermStats gathering."""
    transitions: tuple
    accepts: tuple

    def scoring_terms(self):
        return [t for _, _, t in self.transitions if t is not None]

    all_terms = scoring_terms


@dataclass(frozen=True)
class PayloadScore(Query):
    """PayloadScoreQuery over a term (reference ``queries/payloads/
    PayloadScoreQuery.java:43`` wrapping a SpanTermQuery, with
    ``includeSpanScore=false``): matches docs containing ``term``;
    score = boost × payloadFunction over the float payloads at the
    term's positions (``func`` ∈ min/max/sum/avg — the Min/Max/Sum/
    AveragePayloadFunction set). Payloads come from index-time
    DelimitedPayloadTokenFilter parsing (``build_index(
    payload_delimiter=...)``)."""
    term: str
    func: str = "sum"
    boost: float = 1.0

    def scoring_terms(self):
        return [self.term]

    all_terms = scoring_terms


@dataclass(frozen=True)
class PointRange(Query):
    """Numeric point range over a docvalues field (reference
    ``queryparser/flexible/standard/config/PointsConfig.java`` +
    ``builders/PointRangeQueryNodeBuilder.java`` building
    ``IntPoint/LongPoint/FloatPoint/DoublePoint.newRangeQuery``).

    Bounds are ALREADY inclusive — the parser applies the builder's
    exclusive-bound adjustment at construction (int/long ±1,
    float/double nextUp/nextDown) and substitutes None for the open
    ends (the builder's MIN/MAX_VALUE role). Constant-score: every
    match scores ``boost`` (PointRangeQuery's Weight)."""
    field: str
    lower: object = None        # int or float; None = unbounded
    upper: object = None
    boost: float = 1.0


def rewrite_fixed_point(q: Query, max_iters: int = 8) -> Query:
    """Reference IndexSearcher.rewrite loop (IndexSearcher.java:848-860)."""
    for _ in range(max_iters):
        nxt = q.rewrite()
        if nxt == q:
            return q
        q = nxt
    return q
