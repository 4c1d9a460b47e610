"""One publish primitive for every index write.

``sources.catalog.publish(final)`` yields a fresh ``_tmp-`` path beside
``final``; the body writes a file or a directory there, and a normal exit
moves it into place without ever overwriting. Every writer of the index
goes through it: manifests, segment directories, term dictionary
generations, tombstone and docvalues files, term vectors. The tests below
check the primitive itself, that a merge failing after its phase files are
written leaves nothing behind, and a crash-point sweep over a write
sequence that retries each crashed step in place.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from lucene_spark.operators import build as build_mod
from lucene_spark.operators import delete as delete_mod
from lucene_spark.operators import merge as merge_mod
from lucene_spark.operators import search as search_mod
from lucene_spark.operators.build import build_index
from lucene_spark.operators.checkindex import check_index
from lucene_spark.operators.delete import delete_by_term
from lucene_spark.operators.docvalues import update_numeric_docvalue
from lucene_spark.operators.merge import add_indexes, merge_segments
from lucene_spark.operators.search import Searcher
from lucene_spark.plans import query as Q
from lucene_spark.sources import catalog as catalog_mod
from lucene_spark.sources.catalog import SnapshotCatalog, publish
from lucene_spark.sources.corpus import generate_corpus

FIELD = "popularity"
QUERY = Q.Or((Q.Term("else"), Q.Term("while"), Q.Term("return"),
              Q.Term("if")))


def _write(path: str, kind: str, text: str) -> None:
    if kind == "dir":
        os.makedirs(path)
        path = os.path.join(path, "f")
    with open(path, "w") as f:
        f.write(text)


def _read(path: str, kind: str) -> str:
    with open(os.path.join(path, "f") if kind == "dir" else path) as f:
        return f.read()


def _leftovers(root) -> list[str]:
    return [os.path.join(d, n) for d, dirs, files in os.walk(root)
            for n in dirs + files if n.startswith("_tmp-")]


@pytest.mark.parametrize("kind", ["file", "dir"])
def test_publish_moves_a_complete_write(tmp_path, kind):
    final = str(tmp_path / "out")
    with publish(final) as tmp:
        assert os.path.dirname(tmp) == str(tmp_path)
        assert os.path.basename(tmp).startswith("_tmp-")
        _write(tmp, kind, "new")
        assert not os.path.exists(final)
    assert _read(final, kind) == "new"
    assert os.listdir(tmp_path) == ["out"]


@pytest.mark.parametrize("kind", ["file", "dir"])
def test_a_failed_body_leaves_nothing(tmp_path, kind):
    final = str(tmp_path / "out")
    with pytest.raises(ZeroDivisionError):
        with publish(final) as tmp:
            _write(tmp, kind, "half")
            1 / 0
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("kind", ["file", "dir"])
def test_a_lost_race_keeps_the_winner(tmp_path, kind):
    """A writer that publishes ``final`` while another is still writing
    wins; the other gets ``FileExistsError`` and leaves no tmp."""
    final = str(tmp_path / "out")
    with pytest.raises(FileExistsError):
        with publish(final) as loser:
            _write(loser, kind, "loser")
            with publish(final) as winner:
                _write(winner, kind, "winner")
    assert _read(final, kind) == "winner"
    assert os.listdir(tmp_path) == ["out"]


def _frame(spark, corpus, offset: int = 0):
    return (spark.createDataFrame(corpus.assign(
        doc_id=corpus["doc_id"] + offset))
        .withColumn(FIELD, (F.col("doc_id") % 7).cast("long")))


def test_a_failed_merge_leaves_no_tmp_entry(spark, tmp_path, monkeypatch):
    """The merge's doc count check fails after both phases wrote their
    files: the snapshot and the segment directory stay as they were."""
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, generate_corpus(120, seed=4)), d,
                num_segments=3)
    real = search_mod.fan_out

    def miscounted(spark, items, fn, schema):
        out = real(spark, items, fn, schema)
        if fn.__name__ == "rewrite":
            out = out.withColumn("num_docs", F.col("num_docs") + 1)
        return out

    monkeypatch.setattr(search_mod, "fan_out", miscounted)
    segments = os.path.join(d, "segments")
    before = sorted(os.listdir(segments))
    with pytest.raises(RuntimeError, match="doc_meta rewrite wrote"):
        merge_segments(spark, d, [0, 1])
    assert sorted(os.listdir(segments)) == before
    assert _leftovers(d) == []
    assert SnapshotCatalog(d).snapshot_ids() == [1]


# -- crash-point sweep ------------------------------------------------------

class _Crash(Exception):
    """The failure injected after a publish's body wrote its files."""


@contextmanager
def _crashing(calls: list, crash_at: int | None):
    """``publish`` counted in ``calls``; its ``crash_at``-th call (1-based)
    lets the body write, then raises :class:`_Crash` before the move."""
    @contextmanager
    def wrapped(final):
        calls.append(final)
        n = len(calls)
        with publish(final) as tmp:
            yield tmp
            if n == crash_at:
                raise _Crash(final)

    with pytest.MonkeyPatch.context() as mp:
        # where the callers look the primitive up, on the driver
        for mod in (catalog_mod, build_mod, merge_mod, delete_mod):
            mp.setattr(mod, "publish", wrapped)
        yield


def _steps(spark, other: str) -> list:
    corpus = generate_corpus(300, seed=21)
    first, second = corpus.iloc[:200], corpus.iloc[200:]
    return [
        ("build", lambda d: build_index(spark, _frame(spark, first), d,
                                        num_segments=2, build_id="build")),
        ("append", lambda d: build_index(spark, _frame(spark, second), d,
                                         num_segments=1, build_id="append")),
        ("delete", lambda d: delete_by_term(spark, d, "else")),
        ("docvalues", lambda d: update_numeric_docvalue(
            spark, d, "while", FIELD, 100)),
        ("merge", lambda d: merge_segments(spark, d, [0, 1])),
        ("add_indexes", lambda d: add_indexes(spark, d, other)),
    ]


def _search(spark, d: str) -> list[tuple[int, float]]:
    hits = Searcher(spark, d).search(QUERY, k=50).toPandas()
    return list(zip(hits.doc_id.astype(int), hits.score.astype(float)))


@pytest.fixture(scope="module")
def sweep(spark, tmp_path_factory):
    """The write sequence run once without a crash: per step, the index
    directory before it (``None`` before the build), the snapshot id and
    search result before and after it, and its driver-side publishes."""
    root = tmp_path_factory.mktemp("sweep")
    other = str(root / "other")
    build_index(spark, _frame(spark, generate_corpus(60, seed=8), 10_000),
                other, num_segments=1)
    update_numeric_docvalue(spark, other, "if", FIELD, 7)
    live = str(root / "live")
    states, prev = [], (None, None, None)
    for i, (name, step) in enumerate(_steps(spark, other)):
        calls: list = []
        with _crashing(calls, None):
            step(live)
        saved = str(root / f"after-{i}")
        shutil.copytree(live, saved)
        after = (saved, SnapshotCatalog(live).load().snapshot_id,
                 _search(spark, live))
        states.append((name, prev, after, len(calls)))
        prev = after
    return other, states


@pytest.mark.parametrize("i", range(6), ids=[
    "build", "append", "delete", "docvalues", "merge", "add_indexes"])
def test_crash_point_sweep(spark, tmp_path, sweep, i):
    """For every driver-side publish k of the step, a crash after its body
    wrote leaves an index whose latest snapshot opens, searches as the
    snapshot before the step (or after it, had its manifest landed),
    passes ``check_index`` and holds no ``_tmp-`` entry. A crashed build
    leaves no snapshot. A step whose manifest did not land is then retried
    on the crashed index itself (a build resumes by its key), and ends
    with the uncrashed run's search result, field stats and a passing
    ``check_index``, with no ``_tmp-`` entry left.

    The executor-side publishes (a build's segment directories and term
    vectors) run in Python workers the driver patch does not reach; the
    primitive's unit tests above and the build goldens' resume case
    cover them."""
    other, states = sweep
    name, (before_dir, before_id, before_hits), after, n_calls = states[i]
    after_dir, after_id, after_hits = after
    after_stats = SnapshotCatalog(after_dir).load().field_stats
    step = dict(_steps(spark, other))[name]
    assert n_calls >= 2     # at least a dictionary and a manifest
    for k in range(1, n_calls + 1):
        work = str(tmp_path / f"k{k}")
        if before_dir is not None:
            shutil.copytree(before_dir, work)
        calls: list = []
        with _crashing(calls, k), pytest.raises(_Crash):
            step(work)
        assert _leftovers(work) == [], (name, k)
        snap = SnapshotCatalog(work).load()
        if before_dir is None:
            assert snap is None, (name, k)
        else:
            assert snap.snapshot_id in (before_id, after_id), (name, k)
            want = after_hits if snap.snapshot_id == after_id \
                else before_hits
            assert _search(spark, work) == want, (name, k)
            check_index(work)
        if snap is None or snap.snapshot_id == before_id:
            step(work)          # retry in place
            assert _leftovers(work) == [], (name, k)
            assert SnapshotCatalog(work).load().field_stats == after_stats
            assert _search(spark, work) == after_hits, (name, k)
            check_index(work)
