"""Reverse search / percolation: index the queries, stream the docs.

Reference: the ``lucene/monitor`` module (``monitor/Monitor.java``,
``CandidateMatcher.java``) — a registered query set is matched against
each incoming document, emitting (document, query) match pairs; used for
alerting ("tell me when a doc matching Q arrives").

Spark shape: the query set ships broadcast-style in the UDF closure;
each micro-batch analyzes its documents in one Arrow batch
(``mapInPandas``) and matches against per-doc term sets/position maps —
pure map-side work, no index, no shuffle, so a 1000-executor stream
scales linearly in document throughput. The reference's Presearcher
(``monitor/TermFilteredPresearcher.java`` — index the QUERIES by their
terms so each doc only evaluates plausibly-matching rules) is
implemented: see :class:`Monitor` — per-doc work is proportional to the
doc's vocabulary, not the rule count.

Matching is boolean (MatchAllCandidateMatcher role): scores need global
collection stats which a stateless stream does not have; the reference's
scoring matchers are index-backed and out of scope here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.analysis import analyze_batch
from ..plans import query as Q
from ..plans.parser import parse as parse_query


def _needs_positions(node) -> bool:
    """True when matching this node reads the per-doc position map —
    lets the batch matcher skip building it for term/boolean-only
    query sets (the common percolation shape)."""
    if isinstance(node, (Q.Phrase, Q.MultiPhrase, Q.Interval,
                         Q.SpanNear, Q.SpanOr, Q.SpanNot, Q.SpanFirst,
                         Q.SpanPositionRange, Q.SpanContaining,
                         Q.SpanWithin, Q.SpanMultiTermWrapper)):
        return True
    if isinstance(node, (Q.Or, Q.And, Q.DisMax)):
        return any(_needs_positions(c) for c in node.clauses)
    if isinstance(node, Q.Not):
        return _needs_positions(node.positive) \
            or _needs_positions(node.negative)
    if isinstance(node, Q.ReqOpt):
        return _needs_positions(node.required) \
            or _needs_positions(node.optional)
    return False


def _matches(node, terms: set, positions: dict[str, list[int]]) -> bool:
    """Boolean match of one compiled query node against one document's
    (term set, term → sorted positions)."""
    if isinstance(node, Q.Term):
        return node.term in terms
    if isinstance(node, Q.Synonym):
        return any(t in terms for t in node.terms)
    if isinstance(node, Q.Phrase):
        # a phrase is a multi-phrase of one-term slots, as in the engine
        node = Q.MultiPhrase(tuple((t,) for t in node.terms), node.slop,
                             node.positions)
    if isinstance(node, Q.MultiPhrase):
        if node.slop > 0:
            # sloppy percolation: the exact multi-term walk (incl. the
            # repeats machinery) on this doc's position lists
            from ..functions.sloppy import (
                lucene_sloppy_multiphrase_freq)
            return lucene_sloppy_multiphrase_freq(
                node.slots, positions, node.slop,
                offsets=node.positions) > 0.0
        # union-of-alternatives per position (UnionPostingsEnum), then
        # the consecutive-chain intersection of the exact phrase
        offs = list(node.positions or range(len(node.slots)))
        slot_sets = []
        for slot in node.slots:
            s: set = set()
            for t in slot:
                s.update(positions.get(t, ()))
            if not s:
                return False
            slot_sets.append(s)
        base = slot_sets[0]
        for i, s in enumerate(slot_sets[1:], 1):
            base &= {p - (offs[i] - offs[0]) for p in s}
            if not base:
                return False
        return True
    if isinstance(node, Q.Interval):
        # interval percolation: multiterm leaves expand against the
        # DOC'S OWN term set (the reference Monitor runs the automaton
        # against the single-doc index), then the shared batched
        # evaluator runs on this doc's position lists
        from ..functions.intervals import (eval_intervals,
                                           interval_tree_terms,
                                           resolve_multi_term_sources)

        def _doc_expander(kind, value):
            return Q.term_matcher(kind, value)[1](terms)

        tree = resolve_multi_term_sources(node.tree, _doc_expander)
        pmap = {t: np.asarray(positions.get(t, ()), dtype=np.int64)
                for t in set(interval_tree_terms(tree))}
        return len(eval_intervals(tree, pmap)) > 0
    if isinstance(node, Q.MultiTerm):
        # the doc matches iff one of ITS OWN terms does (the reference's
        # Monitor runs the query against the single-doc index)
        return bool(Q.term_matcher(*node.expansion)[1](terms))
    if isinstance(node, (Q.SpanNear, Q.SpanOr, Q.SpanNot, Q.SpanFirst,
                         Q.SpanPositionRange,
                         Q.SpanContaining, Q.SpanWithin)):
        # span percolation: the shared span evaluator over this doc's
        # position lists (SpanMultiTermWrapper needs a dictionary and is
        # not supported in the stateless stream)
        from ..functions.spans import eval_span_tree, span_tree_terms
        from ..operators.search import _span_tree
        tree = _span_tree(node)
        pmap = {t: np.asarray(positions.get(t, ()), dtype=np.int64)
                for t in set(span_tree_terms(tree))}
        return len(eval_span_tree(tree, pmap)) > 0
    if isinstance(node, Q.Or):
        n = sum(_matches(c, terms, positions) for c in node.clauses)
        return n >= max(node.min_should_match, 1)
    if isinstance(node, Q.And):
        return all(_matches(c, terms, positions) for c in node.clauses)
    if isinstance(node, Q.DisMax):
        return any(_matches(c, terms, positions) for c in node.clauses)
    if isinstance(node, Q.Not):
        return (_matches(node.positive, terms, positions)
                and not _matches(node.negative, terms, positions))
    raise TypeError(type(node))


def _positive_terms(node, doc_terms: set) -> set:
    """Positive term leaves of a query for highlight reporting, with
    multiterm leaves expanded against the DOC'S OWN term set (like the
    percolator's evaluation)."""
    if isinstance(node, Q.Term):
        return {node.term}
    if isinstance(node, (Q.Synonym, Q.CommonTerms)):
        return set(node.terms)
    if isinstance(node, Q.Phrase):
        return set(node.terms)
    if isinstance(node, Q.MultiPhrase):
        return {t for slot in node.slots for t in slot}
    if isinstance(node, Q.MultiTerm):
        return set(Q.term_matcher(*node.expansion)[1](doc_terms))
    if isinstance(node, (Q.Or, Q.And, Q.DisMax)):
        out: set = set()
        for c in node.clauses:
            out |= _positive_terms(c, doc_terms)
        return out
    if isinstance(node, Q.Not):
        return _positive_terms(node.positive, doc_terms)
    if isinstance(node, (Q.SpanNear, Q.SpanOr, Q.SpanNot, Q.SpanFirst,
                         Q.SpanPositionRange, Q.SpanContaining,
                         Q.SpanWithin)):
        from ..functions.spans import span_tree_terms
        from ..operators.search import _span_tree
        return set(span_tree_terms(_span_tree(node), positive_only=True))
    if isinstance(node, Q.Interval):
        from ..functions.intervals import interval_tree_terms
        try:
            return set(interval_tree_terms(node.tree))
        except Exception:
            return set()
    return set()


def _anchor_terms(node) -> set | None:
    """Presearcher term extraction (the reference's
    ``monitor/TermFilteredPresearcher.java`` role): a set of terms such
    that any matching document must contain AT LEAST ONE of them — the
    query's index key in the query-term inverted map. ``None`` means the
    query cannot be term-anchored (e.g. MultiTerm) and must always be
    evaluated.

    Term/Phrase/Synonym: own terms. Or/DisMax: union of children (every
    anchor must cover every way to match). And: the SMALLEST child anchor
    (one required conjunct suffices — reference's minimum-weight
    disjunct choice). Not: the positive side."""
    if isinstance(node, Q.Term):
        return {node.term}
    if isinstance(node, (Q.Phrase, Q.Synonym)):
        return set(node.terms)
    if isinstance(node, (Q.Or, Q.DisMax)):
        out: set = set()
        for c in node.clauses:
            a = _anchor_terms(c)
            if a is None:
                return None
            out |= a
        return out
    if isinstance(node, Q.And):
        best = None
        for c in node.clauses:
            a = _anchor_terms(c)
            if a is not None and (best is None or len(a) < len(best)):
                best = a
        return best
    if isinstance(node, Q.Not):
        return _anchor_terms(node.positive)
    if isinstance(node, Q.SpanNear):
        # all clauses required → the smallest single clause anchor gates
        best = None
        for t in node.terms:
            a = {t} if isinstance(t, str) else _anchor_terms(t)
            if a is not None and (best is None or len(a) < len(best)):
                best = a
        return best
    if isinstance(node, Q.SpanOr):
        out: set = set()
        for c in node.clauses:
            a = _anchor_terms(c)
            if a is None:
                return None
            out |= a
        return out
    if isinstance(node, Q.SpanNot):
        return _anchor_terms(node.include)
    if isinstance(node, Q.SpanFirst):
        return _anchor_terms(node.match)
    if isinstance(node, (Q.SpanContaining, Q.SpanWithin)):
        # both sides required → the smaller anchor
        a = _anchor_terms(node.big)
        b = _anchor_terms(node.little)
        cands = [x for x in (a, b) if x is not None]
        return min(cands, key=len) if cands else None
    if isinstance(node, Q.MultiPhrase):
        # every slot is required → the smallest slot's alternatives gate
        return set(min(node.slots, key=len))
    if isinstance(node, Q.Interval):
        # a matching doc contains at least one leaf term — safe anchor —
        # unless the tree has multiterm leaves (dictionary-dependent)
        from ..functions.intervals import interval_tree_terms
        try:
            return set(interval_tree_terms(node.tree))
        except TypeError:
            return None
    return None  # MultiTerm and anything else: always evaluate


class Monitor:
    """Registered query set; matches documents as they arrive.

    ``presearch=True`` builds a term → query-ids inverted map over the
    registered queries at construction (the reference Presearcher: the
    Monitor indexes its QUERIES, ``monitor/Presearcher.java`` /
    ``TermFilteredPresearcher.java``); each incoming document then
    evaluates only the queries anchored on one of ITS terms plus the
    un-anchorable rest — for alerting-size query sets (10⁴-10⁶ rules)
    per-doc work is proportional to the doc's vocabulary, not the rule
    count. The map ships in the UDF closure like the query set itself.
    """

    def __init__(self, queries: dict[str, object],
                 stopwords: frozenset = frozenset(),
                 stemmer: str | None = None,
                 presearch: bool = True):
        self.queries = {qid: (parse_query(q) if isinstance(q, str) else q)
                        for qid, q in queries.items()}
        self.stopwords = stopwords
        self.stemmer = stemmer
        self.presearch = presearch
        self.term_map: dict[str, list[str]] = {}
        self.always: list[str] = []
        for qid, node in self.queries.items():
            anchors = _anchor_terms(node) if presearch else None
            if anchors:
                for t in anchors:
                    self.term_map.setdefault(t, []).append(qid)
            else:
                self.always.append(qid)

    def register(self, query_id: str, query) -> None:
        """Register or UPDATE a query (MonitorQuery lifecycle —
        reference ``monitor/Monitor.java`` register/update: same id
        replaces the previous query and re-indexes its presearcher
        entry)."""
        if query_id in self.queries:
            self.delete(query_id)
        node = parse_query(query) if isinstance(query, str) else query
        self.queries[query_id] = node
        anchors = _anchor_terms(node) if self.presearch else None
        if anchors:
            for t in anchors:
                self.term_map.setdefault(t, []).append(query_id)
        else:
            self.always.append(query_id)

    def delete(self, query_id: str) -> None:
        """Deregister a query (Monitor.deleteById). Unknown ids are a
        no-op, like the reference."""
        if query_id not in self.queries:
            return
        del self.queries[query_id]
        for t in list(self.term_map):
            if query_id in self.term_map[t]:
                self.term_map[t] = [q for q in self.term_map[t]
                                    if q != query_id]
                if not self.term_map[t]:
                    del self.term_map[t]
        self.always = [q for q in self.always if q != query_id]

    def match_batch(self, docs_df, id_col: str = "doc_id",
                    text_col: str = "text", scoring: bool = False,
                    highlights: bool = False):
        """DataFrame (doc_id, query_id) of every match in ``docs_df``;
        with ``scoring=True`` a ``score float`` column is added — the
        reference's ScoringMatch matcher (``monitor/ScoringMatch
        .java:30-48``): each match scores against the DOCUMENT'S OWN
        single-doc memory index (N=1, df=1 for present terms, avgdl =
        the doc's length), BM25 float32 — computed here by the shared
        brute-force oracle over a one-doc index. ``highlights=True``
        adds a ``hits array<int>`` column — the HighlightsMatch matcher
        role (``monitor/HighlightsMatch.java:36``): the matched
        positions, reported at TERM level (sorted positions of the
        query's positive terms present in the doc; the reference's
        Matches API reports per-leaf iterators the same way for term
        leaves — phrase/span interval grouping is not reconstructed,
        documented subset)."""
        queries = self.queries
        stopwords, stemmer = self.stopwords, self.stemmer
        term_map, always = self.term_map, self.always
        presearch = self.presearch
        # queries that read positions (phrase/span/interval); when the
        # registered set has none — the common percolation shape — the
        # per-doc position map is never built
        pos_qids = {qid for qid, q in queries.items()
                    if _needs_positions(q)}

        def run(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                doc_idx, terms, positions, _ = analyze_batch(
                    pdf[text_col].astype("string").fillna(""),
                    stopwords=stopwords, stemmer=stemmer)
                ids = pdf[id_col].to_numpy()
                # doc_idx is sorted (tokens emitted in doc order):
                # contiguous slices, not a full boolean mask per doc
                bounds = np.searchsorted(doc_idx,
                                         np.arange(len(pdf) + 1))
                out_doc, out_q, out_s, out_h = [], [], [], []
                for i in range(len(pdf)):
                    tlist = terms[bounds[i]:bounds[i + 1]]
                    plist = positions[bounds[i]:bounds[i + 1]]
                    tset = set(tlist)
                    pos_map: dict[str, list[int]] = {}
                    if pos_qids or highlights:
                        for t, p in zip(tlist, plist):
                            pos_map.setdefault(t, []).append(int(p))
                    if presearch:
                        cand = dict.fromkeys(always)
                        for t in tset:
                            for qid in term_map.get(t, ()):
                                cand[qid] = None
                    else:
                        cand = queries
                    one_doc = None
                    for qid in cand:
                        if _matches(queries[qid], tset, pos_map):
                            out_doc.append(ids[i])
                            out_q.append(qid)
                            if scoring:
                                if one_doc is None:
                                    from ..oracle import OracleIndex
                                    one_doc = OracleIndex.build(
                                        [(0, str(pdf[text_col].iloc[i]))],
                                        stopwords=stopwords,
                                        stemmer=stemmer)
                                sc = one_doc.score(queries[qid]).get(0, 0.0)
                                if float(sc) <= 0.0:
                                    # ScoringMatch.doMatch drops score<=0
                                    out_doc.pop()
                                    out_q.pop()
                                    continue
                                out_s.append(float(sc))
                            if highlights:
                                hit = sorted({int(pp)
                                              for t in _positive_terms(
                                                  queries[qid], tset)
                                              for pp in pos_map.get(t, ())})
                                out_h.append(hit)
                cols = {"doc_id": np.asarray(out_doc, dtype=np.int64),
                        "query_id": out_q}
                if scoring:
                    cols["score"] = np.asarray(out_s, dtype=np.float32)
                if highlights:
                    cols["hits"] = out_h
                yield pd.DataFrame(cols)

        schema = "doc_id long, query_id string" + (
            ", score float" if scoring else "") + (
            ", hits array<int>" if highlights else "")
        return docs_df.mapInPandas(run, schema)

    def start(self, source_stream_df, out_path: str, *,
              checkpoint_dir: str, id_col: str = "doc_id",
              text_col: str = "text", trigger_available_now: bool = True):
        """Stream documents through the monitor; matches land in
        ``out_path`` parquet partitioned by ``batch_id``. Exactly-once:
        foreachBatch is at-least-once on retry, so each micro-batch
        dynamically overwrites ONLY its own batch_id partition — a replay
        rewrites the identical partition instead of appending duplicates."""
        from pyspark.sql import functions as F

        def process_batch(batch_df, batch_id: int):
            (self.match_batch(batch_df, id_col, text_col)
                 .withColumn("batch_id", F.lit(int(batch_id)))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id")
                 .parquet(out_path))

        writer = (source_stream_df.writeStream
                  .foreachBatch(process_batch)
                  .option("checkpointLocation", checkpoint_dir))
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
