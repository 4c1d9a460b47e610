"""Snapshot catalog: atomic commit points with per-partition lineage.

Plays the role of the reference's ``segments_N`` commit generation — the
largest generation is the active snapshot, and a commit is an atomic
pointer flip (reference ``index/SegmentInfos.java:54-63,131-132``,
``index/IndexWriter.java:172-180,3849``). On a real deployment this layer
is an Iceberg table commit (snapshot-id pinned reads = ``VERSION AS OF``);
the sandbox has no Iceberg runtime on the classpath, so we implement the
same contract with manifest JSON files: highest generation wins, every
snapshot lists its segments with build metrics (docs/terms/postings
counts, bytes compressed) and its parent. Every index file or directory,
manifests included, is written through one :func:`publish`.

Readers pin a snapshot id and only ever read the segment directories that
snapshot lists — a point-in-time view identical in spirit to Lucene's
``DirectoryReader`` over a commit point.

The catalog also names every new segment, as ``SegmentInfos.counter``
does: :meth:`SnapshotCatalog.allocate` hands out ids above every ``seg=``
entry, so a segment left behind by a failed write is never named again.
A build resumes only by an explicit key: :meth:`SnapshotCatalog.claim`
records a keyed build's ids in ``builds/<build_id>.json``.
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


_SNAPSHOT_RE = re.compile(r"^snapshot-(\d+)\.json$")


@contextmanager
def publish(final: str):
    """Write ``final`` atomically: the body writes a file or a directory at
    the yielded fresh ``_tmp-<uuid>`` path beside it; a normal exit moves
    that to ``final`` by ``os.link`` + ``unlink`` or ``os.rename``, and
    raises ``FileExistsError`` rather than overwrite a file or a non-empty
    directory. Any exception removes the tmp path and propagates."""
    tmp = os.path.join(os.path.dirname(final), f"_tmp-{uuid.uuid4().hex}")
    try:
        yield tmp
        if not os.path.isdir(tmp):
            os.link(tmp, final)   # EEXIST atomically, unlike exists()
            os.unlink(tmp)
        else:
            try:
                os.rename(tmp, final)
            except OSError as e:
                if e.errno != errno.ENOTEMPTY:
                    raise
                raise FileExistsError(f"{final} exists") from None
    except BaseException:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        elif os.path.lexists(tmp):
            os.unlink(tmp)
        raise


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    segments: list[dict]              # per-segment lineage + metrics rows
    field_stats: dict                  # {doc_count, sum_total_term_freq}
    term_stats_path: str | None = None
    extra: dict = field(default_factory=dict)

    @property
    def seg_ids(self) -> list[int]:
        return [s["seg_id"] for s in self.segments]

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "segments": self.segments,
            "field_stats": self.field_stats,
            "term_stats_path": self.term_stats_path,
            "extra": self.extra,
        }


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, "manifests")
        self.segments_dir = os.path.join(root, "segments")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.segments_dir, exist_ok=True)

    # -- snapshots ---------------------------------------------------------
    def snapshot_ids(self) -> list[int]:
        out = []
        for name in os.listdir(self.manifest_dir):
            m = _SNAPSHOT_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def load(self, snapshot_id: int | None = None) -> Snapshot | None:
        ids = self.snapshot_ids()
        if not ids:
            return None
        sid = snapshot_id if snapshot_id is not None else ids[-1]
        path = os.path.join(self.manifest_dir, f"snapshot-{sid}.json")
        with open(path) as f:
            d = json.load(f)
        ts = d.get("term_stats_path")
        if ts is not None and not os.path.isabs(ts):
            ts = os.path.join(self.root, ts)  # relocatable index dirs
        return Snapshot(d["snapshot_id"], d.get("parent_id"), d["segments"],
                        d.get("field_stats", {}), ts, d.get("extra", {}))

    def commit(self, segments: list[dict], field_stats: dict,
               term_stats_path: str | None = None, extra: dict | None = None) -> Snapshot:
        """Atomic commit: one :func:`publish`; generation = parent + 1.
        Paths under the index root are stored relative so the whole index
        directory can be renamed/copied (segment dirs already are)."""
        parent = self.load()
        sid = (parent.snapshot_id + 1) if parent else 1
        stored_ts = term_stats_path
        if term_stats_path is not None:
            root = os.path.abspath(self.root)
            tsp = os.path.abspath(term_stats_path)
            if tsp.startswith(root + os.sep):
                stored_ts = os.path.relpath(tsp, root)
        snap = Snapshot(sid, parent.snapshot_id if parent else None,
                        segments, field_stats, stored_ts, extra or {})
        final = os.path.join(self.manifest_dir, f"snapshot-{sid}.json")
        # single-writer invariant (the reference's IndexWriter holds a
        # write.lock): a lost generation race would silently drop a
        # commit, so detect it rather than overwrite
        try:
            with publish(final) as tmp, open(tmp, "w") as f:
                json.dump(snap.to_json(), f, indent=1, sort_keys=True)
                f.flush()
                os.fsync(f.fileno())
        except FileExistsError:
            raise RuntimeError(
                f"concurrent commit detected: generation {sid} already "
                f"exists in {self.manifest_dir} (one writer per index)"
            ) from None
        snap.term_stats_path = term_stats_path
        return snap

    # -- segment dirs --------------------------------------------------------
    def segment_dir(self, seg_id: int) -> str:
        return os.path.join(self.segments_dir, f"seg={seg_id}")

    def allocate(self, n: int) -> list[int]:
        """The one namer of new segments: ``n`` contiguous ids above every
        ``seg=`` entry under ``segments/``, each reserved by an empty
        directory. ``os.mkdir`` is atomic, so concurrent writers (merge
        threads, other processes) never share an id, and a leftover of a
        failed write is never named again; :func:`publish` of the segment
        replaces its empty reservation."""
        while True:
            first = 1 + max((int(name[4:]) for name in
                             os.listdir(self.segments_dir)
                             if name.startswith("seg=")), default=-1)
            ids = range(first, first + n)
            try:
                for s in ids:
                    os.mkdir(self.segment_dir(s))
                return list(ids)
            except FileExistsError:     # another writer won; start above it
                for made in range(first, s):
                    os.rmdir(self.segment_dir(made))

    @contextmanager
    def allocated(self, n: int):
        """:meth:`allocate` for a write that no build claims: a failure in
        the body removes the reservations, so it leaves nothing behind."""
        ids = self.allocate(n)
        try:
            yield ids
        except BaseException:
            for s in ids:
                os.rmdir(self.segment_dir(s))
            raise

    def claim(self, n: int, build_id: str | None = None
              ) -> tuple[list[int], dict[int, dict | None]]:
        """The ``n`` segment ids a build writes, and those of them it must
        not build: ``{seg_id: stats}`` for a segment already written, and
        ``{seg_id: None}`` for one a snapshot since the claim committed and
        a later one dropped (a merge took its docs). A build without a key
        gets fresh ids and builds them all. A keyed build's first call
        publishes ``builds/<build_id>.json`` with its ids and the
        generation it started from; every later call resumes onto them."""
        if build_id is None:
            return self.allocate(n), {}
        if os.path.basename(build_id) != build_id or build_id[:1] in ".":
            raise ValueError(f"build_id {build_id!r} is not a file name")
        path = os.path.join(self.root, "builds", f"{build_id}.json")
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with publish(path) as tmp, open(tmp, "w") as f:
                json.dump({"seg_ids": self.allocate(n), "generation":
                           max(self.snapshot_ids(), default=0)}, f)
        with open(path) as f:
            claim = json.load(f)
        ids = claim["seg_ids"]
        if len(ids) != n:
            raise ValueError(f"build {build_id!r} claimed {len(ids)} "
                             f"segments, not num_segments={n}")
        done: dict[int, dict | None] = {}
        for s in ids:
            marker = os.path.join(self.segment_dir(s), "stats.json")
            if os.path.exists(marker):
                with open(marker) as f:
                    done[s] = json.load(f)
        committed = {s for g in self.snapshot_ids()
                     if g > claim["generation"] for s in self.load(g).seg_ids}
        if committed:
            done.update(dict.fromkeys(
                committed.intersection(ids) - set(self.load().seg_ids)))
        return ids, done
