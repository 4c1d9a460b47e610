"""One driver-side tombstone store.

Every tombstone change — by term or by ids, hard or soft, a merge's carry,
a rebuild's drop, a split's complement — goes through one writer. The
tests below compute each expected set independently, from the postings
decoded with pyarrow and ``decode_postings``, and compare the store after
every step. They also pin the Spark jobs of the write paths, the writer's
refusal of ids outside their segment, ``check_index``'s soft-tombstone
checks, and that an index whose tombstones are a parquet directory (as
older generations wrote them) still opens, searches and takes a further
delete.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucene_spark.functions.codec import decode_postings
from lucene_spark.operators.build import build_index
from lucene_spark.operators.checkindex import CheckIndexError, check_index
from lucene_spark.operators.delete import (delete_by_ids, delete_by_term,
                                           load_deletes, soft_delete_by_ids,
                                           soft_delete_by_term)
from lucene_spark.operators.merge import merge_segments, multi_pass_split
from lucene_spark.operators.search import Searcher
from lucene_spark.plans import query as Q
from lucene_spark.sources.catalog import SnapshotCatalog
from lucene_spark.sources.corpus import generate_corpus

HARD_TERM = "bufread"
SOFT_TERM = "cfg"
RETAIN = "lang = 'java'"


def _term_docs(d: str, term: str) -> dict[int, set]:
    """{seg_id: local ids whose postings hold ``term``}, decoded here."""
    cat = SnapshotCatalog(d)
    out = {}
    for s in cat.load().seg_ids:
        for row in pq.read_table(
                os.path.join(cat.segment_dir(s), "postings.parquet"),
                filters=[("term", "==", term)]).to_pylist():
            out[s] = set(decode_postings(row)["doc_ids"].tolist())
    return out


def _segment_column(d: str, s: int, column: str) -> np.ndarray:
    """doc_meta ``column`` of segment ``s`` indexed by local doc id."""
    meta = pq.read_table(os.path.join(SnapshotCatalog(d).segment_dir(s),
                                      "doc_meta.parquet"),
                         columns=["local_doc_id", column])
    out = np.empty(meta.num_rows, dtype=object)
    out[meta.column("local_doc_id").to_numpy()] = \
        meta.column(column).to_pylist()
    return out


def _union(a: dict, b: dict) -> dict:
    return {s: a.get(s, set()) | b.get(s, set()) for s in set(a) | set(b)}


def _assert_store(d: str, hard: dict, soft: dict) -> None:
    """Both tombstone keys and their counts equal ``hard`` / ``soft``."""
    cat = SnapshotCatalog(d)
    snap = cat.load()
    for key, count_key, want in (("deletes", "num_deleted", hard),
                                 ("soft_deletes", "num_soft_deleted", soft)):
        want = {s: v for s, v in want.items() if v}
        got = {s: set(v.tolist())
               for s, v in load_deletes(cat, snap, key=key).items()}
        assert got == want, key
        assert snap.extra.get(count_key, 0) == \
            sum(len(v) for v in want.values()), count_key
    check_index(d)


def test_every_step_matches_the_decoded_postings(spark, tmp_path):
    """delete by term, soft delete by an overlapping term, delete by ids
    overlapping both, a merge with soft retention and a multi-pass split:
    after each, the store holds exactly the sets decoded from the
    postings."""
    corpus = generate_corpus(240, seed=11)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=6)

    delete_by_term(spark, d, HARD_TERM)
    hard = _term_docs(d, HARD_TERM)
    _assert_store(d, hard, {})

    soft_delete_by_term(spark, d, SOFT_TERM)
    soft = _term_docs(d, SOFT_TERM)
    assert any(hard.get(s, set()) & v for s, v in soft.items())
    _assert_store(d, hard, soft)

    s0 = min(soft)
    ids = {s0: {min(soft[s0]), max(hard.get(s0, {0})), 0}}
    delete_by_ids(spark, d, {s: sorted(v) for s, v in ids.items()})
    hard = _union(hard, ids)
    _assert_store(d, hard, soft)

    # the merged segment keeps the soft-deleted docs the predicate retains
    # and no hard-deleted one; every doc of it that holds SOFT_TERM is one
    merged = sorted(SnapshotCatalog(d).load().seg_ids)[:3]
    retained = sum(
        int(((_segment_column(d, s, "lang") == "java")[sorted(
            soft.get(s, set()) - hard.get(s, set()))]).sum())
        for s in merged)
    purged = sum(len(soft.get(s, set())) for s in merged) - retained
    assert retained and purged
    snap = merge_segments(spark, d, merged, soft_retention=RETAIN)
    new = max(snap.seg_ids)
    kept = _term_docs(d, SOFT_TERM).get(new, set())
    assert len(kept) == retained
    hard = {s: v for s, v in hard.items() if s not in merged}
    soft = {**{s: v for s, v in soft.items() if s not in merged}, new: kept}
    _assert_store(d, hard, soft)

    outs = [str(tmp_path / f"part{i}") for i in range(2)]
    multi_pass_split(spark, d, outs)
    for i, out in enumerate(outs):
        cat = SnapshotCatalog(out)
        complement = {}
        for s in cat.load().seg_ids:
            gids = np.frombuffer(pq.read_table(
                os.path.join(cat.segment_dir(s), "norms.parquet"),
                columns=["global_doc_ids"]).column(0)[0].as_py(), "<i8")
            complement[s] = set(np.nonzero(gids % 2 != i)[0].tolist())
        _assert_store(out, _union(hard, complement), soft)


def _spark_written_tombstones(spark, d: str, deletes: dict) -> None:
    """Commit ``deletes`` as a parquet directory of part files written by
    Spark, the layout earlier generations left in ``extra["deletes"]``."""
    cat = SnapshotCatalog(d)
    snap = cat.load()
    rel = os.path.join("deletes", "gen-0-spark")
    spark.createDataFrame(
        [(s, i) for s, v in deletes.items() for i in sorted(v)],
        "seg_id int, local_doc_id int").repartition(2).write.parquet(
            os.path.join(d, rel))
    extra = dict(snap.extra or {})
    extra["deletes"] = rel
    extra["num_deleted"] = sum(len(v) for v in deletes.values())
    cat.commit(snap.segments, snap.field_stats, snap.term_stats_path,
               extra=extra)


def test_directory_tombstones_open_search_and_take_a_delete(spark,
                                                            tmp_path):
    corpus = generate_corpus(240, seed=11)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    hard = _term_docs(d, HARD_TERM)
    _spark_written_tombstones(spark, d, hard)
    assert os.path.isdir(os.path.join(
        d, SnapshotCatalog(d).load().extra["deletes"]))
    _assert_store(d, hard, {})

    gone = set()
    cat = SnapshotCatalog(d)
    for s, v in hard.items():
        gids = np.frombuffer(pq.read_table(
            os.path.join(cat.segment_dir(s), "norms.parquet"),
            columns=["global_doc_ids"]).column(0)[0].as_py(), "<i8")
        gone |= {int(gids[i]) for i in v}
    hits = {r["doc_id"] for r in Searcher(spark, d).search(
        Q.Term(HARD_TERM), k=len(corpus)).collect()}
    assert gone and not hits & gone

    delete_by_term(spark, d, SOFT_TERM)
    hard = _union(hard, _term_docs(d, SOFT_TERM))
    _assert_store(d, hard, {})

    merged = sorted(cat.load().seg_ids)[:2]
    merge_segments(spark, d, merged)
    _assert_store(d, {s: v for s, v in hard.items() if s not in merged}, {})


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tombstones") / "idx")
    build_index(spark, spark.createDataFrame(generate_corpus(120, seed=17)),
                d, num_segments=3)
    return d


@pytest.mark.parametrize("writer", [delete_by_ids, soft_delete_by_ids])
@pytest.mark.parametrize("bad", ["negative", "num_docs", "unknown_segment"])
def test_ids_outside_their_segment_are_refused(spark, small_index, writer,
                                               bad):
    """An id of -1 would hide the segment's last doc, and one at num_docs
    would count a doc that is not there: both raise, as does a segment
    not in the snapshot, and nothing is committed."""
    cat = SnapshotCatalog(small_index)
    snap = cat.load()
    seg = snap.segments[0]
    s, n = seg["seg_id"], seg["num_docs"]
    doc_ids = {"negative": {s: [3, -1]}, "num_docs": {s: [n]},
               "unknown_segment": {max(snap.seg_ids) + 1: [0]}}[bad]
    with pytest.raises(ValueError):
        writer(spark, small_index, doc_ids)
    assert cat.load().snapshot_id == snap.snapshot_id

    last = int(np.frombuffer(pq.read_table(
        os.path.join(cat.segment_dir(s), "norms.parquet"),
        columns=["global_doc_ids"]).column(0)[0].as_py(), "<i8")[n - 1])
    term = next(r["term"] for r in pq.read_table(
        os.path.join(cat.segment_dir(s), "postings.parquet")).to_pylist()
        if n - 1 in decode_postings(r)["doc_ids"])
    hits = {r["doc_id"] for r in Searcher(spark, small_index).search(
        Q.Term(term), k=1000).collect()}
    assert last in hits


def _commit_soft_table(d: str, rows: list[tuple[int, int]],
                       count: int) -> None:
    """Commit a soft tombstone file holding ``rows`` as they are, written
    past the store's writer, with ``count`` as its recorded count."""
    cat = SnapshotCatalog(d)
    snap = cat.load()
    os.makedirs(os.path.join(d, "deletes"), exist_ok=True)
    rel = os.path.join("deletes", f"gen-{snap.snapshot_id + 1}-bad.parquet")
    pq.write_table(pa.table({
        "seg_id": pa.array([r[0] for r in rows], pa.int32()),
        "local_doc_id": pa.array([r[1] for r in rows], pa.int32())}),
        os.path.join(d, rel))
    extra = dict(snap.extra or {})
    extra["soft_deletes"] = rel
    extra["num_soft_deleted"] = count
    cat.commit(snap.segments, snap.field_stats, snap.term_stats_path,
               extra=extra)


@pytest.mark.parametrize("bad", ["out_of_range", "unknown_segment",
                                 "duplicate_rows", "count"])
def test_check_index_checks_soft_tombstones(spark, tmp_path, bad):
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_corpus(60, seed=19)),
                d, num_segments=2)
    seg = SnapshotCatalog(d).load().segments[0]
    s, n = seg["seg_id"], seg["num_docs"]
    rows, count = {"out_of_range": ([(s, n)], 1),
                   "unknown_segment": ([(s + 10, 0)], 1),
                   "duplicate_rows": ([(s, 1), (s, 1)], 2),
                   "count": ([(s, 1)], 2)}[bad]
    check_index(d)
    _commit_soft_table(d, rows, count)
    with pytest.raises(CheckIndexError):
        check_index(d)


def test_write_paths_run_at_most_one_job(spark_jobs, spark, small_index):
    """A term delete, hard or soft, runs one job (it finds the docs);
    deleting explicit ids runs none."""
    for i, (fn, term) in enumerate(((delete_by_term, "parse"),
                                    (soft_delete_by_term, "flush"))):
        _, jobs = spark_jobs(f"tombstone-term-{i}",
                             lambda: fn(spark, small_index, term))
        assert len(jobs) <= 1, fn.__name__
    s = SnapshotCatalog(small_index).load().seg_ids[0]
    _, jobs = spark_jobs("tombstone-ids", lambda: delete_by_ids(
        spark, small_index, {s: [0, 1]}))
    assert jobs == []


def test_tombstoned_merge_runs_at_most_seven_jobs(spark_jobs, spark,
                                                  tmp_path):
    """Merging the 10 smallest of 16 segments with hard and soft
    tombstones runs the two body fan-outs and the commit's term-stats
    jobs; carrying the tombstones runs none."""
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_corpus(240, seed=11)),
                d, num_segments=16)
    delete_by_term(spark, d, HARD_TERM)
    soft_delete_by_term(spark, d, SOFT_TERM)
    snap = SnapshotCatalog(d).load()
    assert snap.extra["num_deleted"] and snap.extra["num_soft_deleted"]
    smallest = [s["seg_id"] for s in sorted(
        snap.segments, key=lambda s: (s["num_docs"], s["seg_id"]))[:10]]
    _, jobs = spark_jobs("tombstoned-merge",
                         lambda: merge_segments(spark, d, smallest))
    assert len(jobs) <= 7
