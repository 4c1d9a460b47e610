"""Reverse search / percolation: index the queries, stream the docs.

Reference: the ``lucene/monitor`` module (``monitor/Monitor.java``,
``CandidateMatcher.java``) — a registered query set is matched against
each incoming document, emitting (document, query) match pairs; used for
alerting ("tell me when a doc matching Q arrives").

Spark shape: the query set ships in the UDF closure; each Arrow batch of
a micro-batch (``mapInPandas``) is inverted into one in-memory segment
(``operators.memoryindex.MemorySegment``, the build's own kernel) and
every candidate query runs over the whole batch through the engine's own
compile and segment kernel — the reference's CandidateMatcher runs the
query's Weight over an in-RAM index the same way, so percolation cannot
disagree with search. Pure map-side work, no index, no shuffle, so a
1000-executor stream scales linearly in document throughput. The
reference's Presearcher (``monitor/TermFilteredPresearcher.java`` — index
the QUERIES by their terms so a document only evaluates plausibly
matching rules) is the batch's candidate filter: see :class:`Monitor` —
per-batch work is proportional to the number of queries anchored in the
batch's vocabulary.

Matching is boolean (MatchAllCandidateMatcher role). ``scoring=True`` is
the ScoringMatch matcher: a matched document is scored with its own
one-doc stats over the batch segment's postings
(``MemorySegment.doc``). ``highlights=True`` is the HighlightsMatch
role, with positions read from the batch segment's postings.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd

from ..operators.memoryindex import MemorySegment
from ..plans import query as Q
from ..plans.parser import parse as parse_query


def _positive_terms(node, vocab) -> set:
    """Positive term leaves of a query for highlight reporting, with
    multiterm leaves expanded against the batch's vocabulary ``vocab``
    (a term a document lacks has no positions in it)."""
    if isinstance(node, Q.Term):
        return {node.term}
    if isinstance(node, Q.Synonym):
        return set(node.terms)
    if isinstance(node, Q.Phrase):
        return set(node.terms)
    if isinstance(node, Q.MultiPhrase):
        return {t for slot in node.slots for e in slot for t in (
            [e] if isinstance(e, str) else Q.term_matcher(*e)[1](vocab))}
    if isinstance(node, Q.MultiTerm):
        return set(Q.term_matcher(*node.expansion)[1](vocab))
    if isinstance(node, (Q.Or, Q.And, Q.DisMax)):
        out: set = set()
        for c in node.clauses:
            out |= _positive_terms(c, vocab)
        return out
    if isinstance(node, Q.Not):
        return _positive_terms(node.positive, vocab)
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
        # every slot is required → the smallest all-term slot's
        # alternatives gate; a prefix or wildcard entry has no term
        slots = [s for s in node.slots
                 if all(isinstance(e, str) for e in s)]
        return set(min(slots, key=len)) if slots else None
    if isinstance(node, Q.Interval):
        # a matching doc contains at least one leaf term — safe anchor —
        # unless the tree has multiterm leaves (dictionary-dependent)
        from ..functions.intervals import interval_tree_terms
        try:
            return set(interval_tree_terms(node.tree))
        except TypeError:
            return None
    return None  # MultiTerm and anything else: always evaluate


def _check_percolatable(node) -> None:
    """Raise TypeError for a query whose match set depends on collection
    stats: CommonTerms splits its terms by df and FuzzyLikeThis picks its
    variants by idf, so either would match differently in another batch."""
    if isinstance(node, (Q.CommonTerms, Q.FuzzyLikeThis)):
        raise TypeError(f"{type(node).__name__} cannot be percolated: its "
                        "match set depends on collection statistics")
    for f in dataclasses.fields(node):
        v = getattr(node, f.name)
        for c in v if isinstance(v, tuple) else (v,):
            if isinstance(c, Q.Query):
                _check_percolatable(c)


def _hit_positions(seg: MemorySegment, terms, docs: np.ndarray
                   ) -> list[list[int]]:
    """Sorted distinct positions of ``terms`` in each local doc of
    ``docs``, read from the segment's postings."""
    keys = [np.empty(0, np.int64)]
    for t in terms:
        tp = seg.postings(t)
        if tp is not None:
            ids, tfs = tp.decode_all()
            keys.append((np.repeat(ids, tfs) << 32) | tp.positions())
    keys = np.unique(np.concatenate(keys))
    bounds = np.searchsorted(keys >> 32, np.stack([docs, docs + 1]))
    return [(keys[a:b] & 0xFFFFFFFF).tolist() for a, b in zip(*bounds)]


class Monitor:
    """Registered query set; matches documents as they arrive.

    Registration builds a term → query-ids inverted map over the queries
    (the reference Presearcher: the Monitor indexes its QUERIES,
    ``monitor/Presearcher.java`` / ``TermFilteredPresearcher.java``): a
    query is anchored on terms one of which every matching document
    holds. A batch then evaluates only the queries anchored on a term of
    its vocabulary plus the un-anchorable rest (``always``). Each of
    these candidates pays one compile and one evaluation over the batch,
    a fixed cost per batch, so a rule set whose anchors most batches
    hold costs more per document in small Arrow batches than in large
    ones. The map ships in the UDF closure like the query set itself. A
    query whose match set depends on collection stats (CommonTerms,
    FuzzyLikeThis) raises TypeError at registration.
    """

    def __init__(self, queries: dict[str, object],
                 stopwords: frozenset = frozenset(),
                 stemmer: str | None = None):
        self.queries: dict[str, Q.Query] = {}
        self.stopwords = stopwords
        self.stemmer = stemmer
        self.term_map: dict[str, list[str]] = {}
        self.always: list[str] = []
        for qid, q in queries.items():
            self.register(qid, q)

    def register(self, query_id: str, query) -> None:
        """Register or UPDATE a query (MonitorQuery lifecycle —
        reference ``monitor/Monitor.java`` register/update: same id
        replaces the previous query and re-indexes its presearcher
        entry)."""
        node = parse_query(query) if isinstance(query, str) else query
        _check_percolatable(node)
        if query_id in self.queries:
            self.delete(query_id)
        self.queries[query_id] = node
        anchors = _anchor_terms(node)
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
        """DataFrame (doc_id, query_id) of every match in ``docs_df``.

        ``scoring=True`` adds a ``score float`` column — the reference's
        ScoringMatch matcher (``monitor/ScoringMatch.java:30-48``): each
        match is scored with the DOCUMENT'S OWN one-doc stats (N=1, df=1
        for present terms, avgdl = the doc's length), and a match scoring
        <= 0 is dropped. ``highlights=True`` adds a ``hits array<int>``
        column — the HighlightsMatch matcher role
        (``monitor/HighlightsMatch.java:36``): the matched positions,
        reported at TERM level (sorted positions of the query's positive
        terms present in the doc; the reference's Matches API reports
        per-leaf iterators the same way for term leaves — phrase/span
        interval grouping is not reconstructed, documented subset)."""
        queries = self.queries
        stopwords, stemmer = self.stopwords, self.stemmer
        term_map, always = self.term_map, self.always

        def run(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                docs = pd.DataFrame({
                    "doc_id": pdf[id_col].to_numpy(np.int64),
                    "text": pdf[text_col].to_numpy(object)}).sort_values(
                        "doc_id", kind="mergesort", ignore_index=True)
                seg = MemorySegment(docs, stopwords=stopwords,
                                    stemmer=stemmer)
                cand = dict.fromkeys(always)
                for t in term_map.keys() & seg.rows.keys():
                    cand.update(dict.fromkeys(term_map[t]))
                one_doc: dict[int, MemorySegment] = {}
                out_doc, out_q, out_s, out_h = [], [], [], []
                for qid in cand:
                    hit = np.flatnonzero(seg.evaluate(queries[qid])[0])
                    if scoring:
                        for i in set(hit) - one_doc.keys():
                            one_doc[i] = seg.doc(i)
                        sc = np.array([one_doc[i].score(queries[qid])
                                       for i in hit], dtype=np.float32)
                        # ScoringMatch.doMatch drops score <= 0
                        hit = hit[sc > 0]
                        out_s.append(sc[sc > 0])
                    if highlights:
                        out_h.extend(_hit_positions(
                            seg, _positive_terms(queries[qid],
                                                 seg.rows.keys()), hit))
                    out_doc.append(seg.doc_ids[hit])
                    out_q.extend([qid] * len(hit))
                cols = {"doc_id": np.concatenate(
                            out_doc or [np.empty(0, np.int64)]),
                        "query_id": out_q}
                if scoring:
                    cols["score"] = np.concatenate(
                        out_s or [np.empty(0, np.float32)])
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
