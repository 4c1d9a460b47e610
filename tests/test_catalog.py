"""Snapshot catalog commits under concurrent writers."""

from __future__ import annotations

import json
import multiprocessing
import os
import re

from lucene_spark.sources.catalog import SnapshotCatalog

ROUNDS = 10


def _racing_writer(root: str, tag: str, barrier, results) -> None:
    """Commit once per round. Publishing a manifest (by link or rename)
    first waits until both writers reach that step, so every round both
    aim at the same generation and the race window is as wide as it gets.
    Runs in a spawned process, so patching ``os`` stays there."""
    aimed = []
    for name in ("link", "rename"):
        def publish(src, dst, _real=getattr(os, name)):
            m = re.match(r"snapshot-(\d+)\.json$", os.path.basename(dst))
            if m:
                aimed.append(int(m.group(1)))
                barrier.wait(timeout=60)
            return _real(src, dst)
        setattr(os, name, publish)
    cat = SnapshotCatalog(root)
    for _ in range(ROUNDS):
        try:
            cat.commit([], {"doc_count": 0}, extra={"writer": tag})
            results.put((tag, aimed[-1], "won"))
        except RuntimeError:
            results.put((tag, aimed[-1], "lost"))


def test_concurrent_commits_one_winner_per_generation(tmp_path):
    root = str(tmp_path / "idx")
    SnapshotCatalog(root).commit([], {"doc_count": 0},
                                 extra={"writer": "seed"})
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(2)
    results = ctx.Queue()
    procs = [ctx.Process(target=_racing_writer,
                         args=(root, tag, barrier, results))
             for tag in ("a", "b")]
    for p in procs:
        p.start()
    outcomes = [results.get(timeout=120) for _ in range(2 * ROUNDS)]
    for p in procs:
        p.join(timeout=60)
        assert not p.is_alive() and p.exitcode == 0

    cat = SnapshotCatalog(root)
    assert cat.snapshot_ids() == list(range(1, ROUNDS + 2))
    for gen in range(2, ROUNDS + 2):
        at_gen = [(tag, res) for tag, g, res in outcomes if g == gen]
        winners = [tag for tag, res in at_gen if res == "won"]
        assert len(at_gen) == 2 and len(winners) == 1, (gen, at_gen)
        # the winner's manifest is the one on disk: nothing overwrote it
        assert cat.load(gen).extra["writer"] == winners[0]
    leftovers = [n for n in os.listdir(cat.manifest_dir)
                 if n.startswith("_tmp-")]
    assert leftovers == []
    with open(os.path.join(cat.manifest_dir, "snapshot-1.json")) as f:
        assert json.load(f)["extra"]["writer"] == "seed"
