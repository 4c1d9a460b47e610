"""MemoryIndex: a single-document in-memory index.

Reference: ``memory/src/java/org/apache/lucene/index/memory/
MemoryIndex.java:78`` — index ONE document in RAM, run arbitrary queries
against it, read back a score. The classic uses are percolation (the
Monitor, ``streaming/monitor.py``, covers the batch form of that) and
"does this document match / how well" checks inside a larger pipeline;
this is the standalone API for the latter.

Single-field engine: ``add_field`` appends to the one content field;
repeated calls concatenate with a +1 position gap, the analyzer's
position-increment-gap role (``MemoryIndex.java`` keeps per-field token
streams; we have one field). ``freeze()`` makes the instance immutable
(the reference's frozen mode rejects further addField); ``reset()``
clears and unfreezes it for reuse. The analyzer chain takes the same
knobs as ``OracleIndex.build`` / ``build_index``.

Scoring is the same float32-exact BM25 / Similarity chain as the full
engine, with the single-doc collection stats the reference exposes
through its MemoryIndexReader (docCount=1, df∈{0,1}, avgdl = the doc's
own length) — verified by sharing the
:class:`lucene_spark.oracle.OracleIndex` kernel, which is
differential-tested against the Spark engine everywhere.
"""

from __future__ import annotations

from ..oracle import OracleIndex
from ..plans.parser import parse
from ..plans.query import Query


class MemoryIndex:
    """One-document index; queries score against it directly."""

    def __init__(self, text: str | None = None, **analyzer_kwargs):
        self._parts: list[str] = []
        self._kwargs = analyzer_kwargs
        self._idx: OracleIndex | None = None
        self._frozen = False
        if text is not None:
            self.add_field(text)

    def add_field(self, text: str) -> "MemoryIndex":
        """Append analyzed text to the document (chainable); raises on a
        frozen index."""
        if self._frozen:
            raise ValueError("cannot add fields to a frozen MemoryIndex")
        if text:
            self._parts.append(text)
        self._idx = None
        return self

    def freeze(self) -> "MemoryIndex":
        """``MemoryIndex.freeze()``: no further ``add_field``."""
        self._frozen = True
        return self

    def _index(self) -> OracleIndex:
        if self._idx is None:
            self._idx = OracleIndex.build([(0, " ".join(self._parts))],
                                          **self._kwargs)
        return self._idx

    def search(self, query: "Query | str", k1: float | None = None,
               b: float | None = None, sim=None) -> float:
        """Score of the document for ``query`` (0.0 when it doesn't
        match, or when no text was added) — ``MemoryIndex.search(Query)``'s
        float contract. String queries go through the classic parser."""
        if not self._parts:
            return 0.0
        if isinstance(query, str):
            query = parse(query,
                          stopwords=self._kwargs.get("stopwords", frozenset()))
        kwargs = {}
        if k1 is not None:
            kwargs["k1"] = k1
        if b is not None:
            kwargs["b"] = b
        if sim is not None:
            kwargs["sim"] = sim
        scores = self._index().score(query, **kwargs)
        return float(scores.get(0, 0.0))

    def matches(self, query: "Query | str") -> bool:
        return self.search(query) > 0.0

    # -- MemoryIndexReader-style introspection ---------------------------
    def freq(self, term: str) -> int:
        """Term frequency of ``term`` in the doc (reader totalTermFreq)."""
        post = self._index().postings.get(term, ())
        return int(post[0][1]) if post else 0

    def positions(self, term: str) -> list[int]:
        post = self._index().postings.get(term, ())
        return list(post[0][2]) if post else []

    def terms(self) -> list[str]:
        """The doc's distinct terms, sorted (reader terms enum)."""
        return sorted(self._index().postings)

    def reset(self) -> "MemoryIndex":
        """Clear the document for reuse (``MemoryIndex.reset``; like the
        reference, this also unfreezes)."""
        self._parts.clear()
        self._idx = None
        self._frozen = False
        return self
