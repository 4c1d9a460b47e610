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

    def durable_segments(self) -> dict[int, dict]:
        """Segments already written to durable storage (each has a stats.json
        marker written last) — the resume set, independent of whether a
        manifest commit happened after they flushed."""
        out: dict[int, dict] = {}
        for name in os.listdir(self.segments_dir):
            if not name.startswith("seg="):
                continue
            marker = os.path.join(self.segments_dir, name, "stats.json")
            if os.path.exists(marker):
                with open(marker) as f:
                    stats = json.load(f)
                out[int(name.split("=", 1)[1])] = stats
        return out
