"""Query-time segment readers, kept open across queries.

Lucene opens a segment's files once and keeps its ``SegmentReader`` for
every search that follows; ``DirectoryReader.openIfChanged`` shares the
readers of unchanged segments (``search/IndexSearcher.java:95-97``).
Segments here are immutable directories too, so each process (a reused
PySpark worker, or the driver) keeps what it decoded of a segment:

* ``postings.parquet`` as one Arrow table, plus a ``term → row`` dict;
* ``norms.parquet``'s norm bytes and global doc ids as numpy arrays,
  read on first use, so a segment no query term reaches never reads them.

An entry is keyed by the directory's path and its ``(st_ino,
st_mtime_ns)``: every publish makes a new directory, so a segment rebuilt
at the same path (an index removed and built again) is read again, never
served from the old entry. The cache is least-recently-used and bounded
by :data:`CACHE_BYTES`. Whether a segment is kept is settled before it is
read, from its postings files' footers: one that fits is read whole and
kept; one that does not is read for the query's terms only, from the
row groups whose term statistics span them, and not kept.

Entries are Arrow tables, numpy arrays and one dict of strings to ints:
no per-term Python row objects, which the full ``gc.collect()`` the
PySpark daemon runs after every task would walk. Writers (build, merge,
delete, ``check_index``) still read the files themselves, since they must
see the bytes on disk, but decode them through ``functions/codec.py``, the
one owner of the segment formats, as this reader does.
"""

from __future__ import annotations

import os
import threading
from bisect import bisect_left, bisect_right
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..functions.codec import decode_norms

#: Decoded bytes of open segment readers one process keeps. Spark runs one
#: Python worker per concurrent task, so an executor's workers hold up to
#: cores × this, outside the JVM heap: it counts against the executor's
#: memory overhead (``spark.executor.memoryOverhead``). 64 MB holds a
#: 5k-doc, 16-segment index (about 6 MB decoded) and a 40k-doc one with
#: positions (about 14 MB) whole.
CACHE_BYTES = 64 << 20

#: Decoded bytes a postings row costs beyond its parquet column bytes: its
#: ``str`` key, ``int`` and slot in the ``term → row`` dict (about 110) and
#: Arrow's offsets and validity (about 35). An estimate from the footer
#: with it reads 4–8% over the measured size of built segments.
_ROW_BYTES = 160


def _files(path: str) -> list[str]:
    """The parquet files of ``path``: itself, or a merged segment's
    ``part-NNNNN.parquet`` files in range (name) order."""
    if not os.path.isdir(path):
        return [path]
    return [os.path.join(path, f) for f in sorted(os.listdir(path))
            if not f.startswith(("_", "."))]


class SegmentReader:
    """One segment's query-time files: its postings as an Arrow table
    with a ``term → row`` index, and its norms, read on first use."""

    __slots__ = ("seg_dir", "ident", "postings", "_row", "_norms",
                 "_postings_bytes")

    def __init__(self, seg_dir: str, ident: tuple[int, int], postings,
                 postings_bytes: int):
        self.seg_dir = seg_dir
        self.ident = ident
        self.postings = postings
        self._row = {t: i for i, t in
                     enumerate(postings.column("term").to_numpy())}
        self._norms: tuple[np.ndarray, np.ndarray] | None = None
        self._postings_bytes = postings_bytes

    @property
    def nbytes(self) -> int:
        """Decoded bytes held: the postings as estimated from the files'
        footers (:func:`_decoded_bytes`), and the norms once read."""
        if self._norms is None:
            return self._postings_bytes
        return (self._postings_bytes + self._norms[0].nbytes
                + self._norms[1].nbytes)

    def rows(self, terms) -> dict[str, dict]:
        """``{term: postings row}`` for those of ``terms`` the segment
        holds, in the file's order; empty when it holds none."""
        at = sorted({self._row[t] for t in terms if t in self._row})
        if not at:
            return {}
        return {r["term"]: r for r in self.postings.take(at).to_pylist()}

    def norms(self) -> tuple[np.ndarray, np.ndarray]:
        """(norm bytes ``uint8``, global doc ids ``int64``), one per local
        doc id."""
        if self._norms is None:
            self._norms = decode_norms(pq.ParquetFile(os.path.join(
                self.seg_dir, "norms.parquet")).read().to_pylist()[0])
        return self._norms


def _decoded_bytes(files) -> int:
    """What the open parquet ``files`` decode to with their ``term → row``
    dict, from their footers: the row groups' uncompressed bytes plus
    :data:`_ROW_BYTES` a row."""
    return sum(f.metadata.row_group(i).total_byte_size
               + _ROW_BYTES * f.metadata.row_group(i).num_rows
               for f in files for i in range(f.metadata.num_row_groups))


def _read_terms(files, terms) -> pa.Table:
    """The rows of ``terms`` in the open parquet ``files``. Only the row
    groups whose term statistics span one of them are read, the pruning
    a pushed ``term in`` filter does, without a dataset's set-up."""
    terms = sorted(set(terms))
    parts = []
    for f in files:
        at = f.metadata.schema.names.index("term")
        groups = []
        for i in range(f.metadata.num_row_groups):
            st = f.metadata.row_group(i).column(at).statistics
            if (st is None or not st.has_min_max
                    or bisect_left(terms, st.min) < bisect_right(terms,
                                                                 st.max)):
                groups.append(i)
        parts.append(f.read_row_groups(groups))
    table = pa.concat_tables(parts)
    col = table.column("term")
    return table.filter(pc.is_in(col, value_set=pa.array(terms, col.type)))


class ReaderCache:
    """Open :class:`SegmentReader` s of one process, least recently used
    first out, bounded by ``max_bytes`` of decoded data."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self._open: OrderedDict[str, SegmentReader] = OrderedDict()
        self._lock = threading.Lock()

    def __contains__(self, seg_dir: str) -> bool:
        return seg_dir in self._open

    def open(self, seg_dir: str, terms) -> SegmentReader:
        """The reader of the segment directory ``seg_dir``: the kept one,
        or one read now. A segment whose decoded size would exceed the
        bound is read for the query's ``terms`` only and not kept."""
        st = os.stat(seg_dir)
        ident = (st.st_ino, st.st_mtime_ns)
        with self._lock:
            r = self._open.pop(seg_dir, None)
            if r is not None and r.ident == ident:
                self._open[seg_dir] = r
                return r
        path = os.path.join(seg_dir, "postings.parquet")
        files = [pq.ParquetFile(f) for f in _files(path)]
        size = _decoded_bytes(files)
        if size > self.max_bytes:
            part = _read_terms(files, terms)
            return SegmentReader(seg_dir, ident, part, part.nbytes)
        r = SegmentReader(seg_dir, ident,
                          pa.concat_tables([f.read() for f in files]), size)
        with self._lock:
            self._open[seg_dir] = r
            used = sum(e.nbytes for e in self._open.values())
            while used > self.max_bytes:
                _, old = self._open.popitem(last=False)
                used -= old.nbytes
        return r


#: this process's open readers. Module state on purpose: a PySpark worker
#: unpickles each task's function afresh, and only what its imported
#: modules hold lives on to the next task.
READERS = ReaderCache(CACHE_BYTES)


def open_segment(seg_dir: str, terms) -> SegmentReader:
    """This process's reader of the segment directory ``seg_dir``."""
    return READERS.open(seg_dir, terms)
