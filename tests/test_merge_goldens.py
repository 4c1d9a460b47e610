"""A merged segment holds, row for row, what the reference merge wrote.

``data/merge/goldens.json`` holds, for each case below, the sha256 of the
merged segment's rows (postings rows by term with every byte column raw,
``norms.parquet``, doc_meta by ``local_doc_id``), the arrow schema of each
file, ``stats.json`` and the next generation's tombstone and docvalues
tables. A schema drift would break ``spark.read.parquet`` across built and
merged segments, so it fails here as surely as a changed byte. Record with
``python tests/test_merge_goldens.py --record PATH`` from the repo root.

The merge body (everything before the commit) runs as two shuffle-free
fan-outs, plus one job to evaluate a soft-retention predicate.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

import numpy as np
import pytest

_HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(_HERE, "data", "merge", "goldens.json")

N_DOCS = 240
NUM_SEGMENTS = 4
DEL_TERM = "flush"
SOFT_TERM = "emit"
#: hard-deletes some of the soft-deleted docs the retention predicate keeps
OVERLAP_TERM = "list"
#: a term of every doc: its hits are the live docs
EVERY_DOC_TERM = "return"
SORT_FIELD = "rank"


def _corpus():
    from lucene_spark.sources.corpus import generate_corpus
    pdf = generate_corpus(N_DOCS, seed=7)
    # few distinct keys, so the sort's doc-id tie-break is exercised
    pdf[SORT_FIELD] = ((pdf["doc_id"] * 37) % 11).astype("int64")
    return pdf


def _payload_docs():
    rng = np.random.default_rng(17)
    vocab = ["alpha", "beta", "gamma", "delta", "flush"]
    docs = []
    for d in range(80):
        toks = [vocab[int(rng.integers(len(vocab)))]
                for _ in range(int(rng.integers(3, 12)))]
        docs.append((d, " ".join(f"{t}|{(d + i) % 7 / 2.0}"
                                 for i, t in enumerate(toks))))
    return docs


def _build(spark, d, case):
    from lucene_spark.operators.build import build_index
    if case == "payloads":
        build_index(spark, spark.createDataFrame(
            _payload_docs(), "doc_id long, content string"), d,
            num_segments=NUM_SEGMENTS, payload_delimiter="|",
            tokenizer="whitespace")
        return
    kw = {}
    if case.startswith("sort_"):
        kw = {"sort_field": SORT_FIELD,
              "sort_ascending": "_asc" in case}
    if case == "no_positions":
        kw = {"store_positions": False}
    build_index(spark, spark.createDataFrame(_corpus()), d,
                num_segments=NUM_SEGMENTS, **kw)


#: case → (hard-deleted term, soft-deleted, retention predicate, dv update)
CASES = {
    "plain": (None, False, None, False),
    "tombstones": (DEL_TERM, False, None, False),
    "sort_asc_tombstones": (DEL_TERM, False, None, False),
    "sort_desc": (None, False, None, False),
    "payloads": (DEL_TERM, False, None, False),
    "no_positions": (DEL_TERM, False, None, False),
    "soft_retention": (DEL_TERM, True, "lang = 'java'", False),
    "sort_asc_soft_retention": (None, True, "lang = 'java'", False),
    # docs both hard- and soft-deleted that match the retention predicate
    "sort_asc_overlap_retention": (OVERLAP_TERM, True, "lang = 'java'",
                                   False),
    "overlap_retention": (OVERLAP_TERM, True, "lang = 'java'", False),
    "dv_updates": (None, False, None, True),
}

#: the reference merge re-tombstoned an unsorted overlap's retained doc at
#: the next live doc's id, so that case is held to the live-doc check only
GOLDEN_CASES = [c for c in CASES if c != "overlap_retention"]


def _prepare(spark, case, root) -> str:
    """An index of ``case`` under ``root`` with its deletes and updates
    committed."""
    from lucene_spark.operators.delete import (delete_by_term,
                                               soft_delete_by_term)
    from lucene_spark.operators.docvalues import update_numeric_docvalue
    hard, soft, _, dv = CASES[case]
    d = os.path.join(str(root), case)
    _build(spark, d, case)
    if soft:
        soft_delete_by_term(spark, d, SOFT_TERM)
    if hard:
        delete_by_term(spark, d, hard)
    if dv:
        update_numeric_docvalue(spark, d, "else", SORT_FIELD, 100)
        update_numeric_docvalue(spark, d, "while", SORT_FIELD, -3)
    return d


def _merge(spark, d, case):
    from lucene_spark.operators.merge import merge_segments
    from lucene_spark.sources.catalog import SnapshotCatalog
    snap = SnapshotCatalog(d).load()
    return merge_segments(spark, d, sorted(snap.seg_ids)[:3],
                          soft_retention=CASES[case][2])


def _rows_digest(tbl, keys) -> str:
    tbl = tbl.sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256()
    for name in tbl.column_names:
        h.update(repr((name, tbl.column(name).to_pylist())).encode())
    return h.hexdigest()


def _schema(path) -> list:
    import pyarrow.dataset as ds
    return [[f.name, str(f.type)] for f in ds.dataset(path).schema]


def _digests(d, snap) -> dict:
    import pyarrow.parquet as pq

    from lucene_spark.operators.delete import load_deletes
    from lucene_spark.operators.docvalues import _overlay_path
    from lucene_spark.sources.catalog import SnapshotCatalog
    catalog = SnapshotCatalog(d)
    seg_dir = catalog.segment_dir(max(snap.seg_ids))
    out = {}
    for name, keys in (("postings", ["term"]), ("norms", ["seg_id"]),
                       ("doc_meta", ["local_doc_id"])):
        path = os.path.join(seg_dir, f"{name}.parquet")
        out[name] = _rows_digest(pq.read_table(path), keys)
        out[f"{name}_schema"] = _schema(path)
    with open(os.path.join(seg_dir, "stats.json")) as f:
        out["stats"] = json.load(f)
    out["field_stats"] = dict(snap.field_stats)
    for key in ("deletes", "soft_deletes"):
        dels = load_deletes(catalog, snap, key=key)
        out[key] = {str(s): v.tolist() for s, v in sorted(dels.items())
                    if len(v)}
    ov = _overlay_path(catalog, snap)
    out["dv_updates"] = (None if ov is None else _rows_digest(
        pq.read_table(ov), ["seg_id", "local_doc_id", "field"]))
    return out


def _case_digests(spark, case, root) -> dict:
    d = _prepare(spark, case, root)
    return _digests(d, _merge(spark, d, case))


def record(spark) -> dict:
    with tempfile.TemporaryDirectory(prefix="merge_goldens_") as root:
        return {case: _case_digests(spark, case, root)
                for case in GOLDEN_CASES}


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDENS, encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("case", GOLDEN_CASES)
def test_merged_segment_matches_golden(spark, goldens, part_layout, case,
                                       tmp_path):
    got = json.loads(json.dumps(_case_digests(spark, case, tmp_path)))
    want = goldens[case]
    assert set(got) == set(want)
    for key in want:
        assert got[key] == want[key], (case, key)


@pytest.mark.parametrize("case", ["sort_asc_overlap_retention",
                                  "overlap_retention"])
def test_merge_keeps_every_live_doc(spark, case, tmp_path):
    """A retained soft delete that is hard-deleted too is purged: the
    merged segment's soft tombstones name only its own retained docs, and
    every doc live before the merge is still a hit after it."""
    from lucene_spark.operators.delete import load_deletes
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans import query as Q
    from lucene_spark.sources.catalog import SnapshotCatalog
    d = _prepare(spark, case, tmp_path)

    def live_docs():
        return {r["doc_id"] for r in Searcher(spark, d).search(
            Q.Term(EVERY_DOC_TERM), k=N_DOCS).collect()}

    before = live_docs()
    snap = _merge(spark, d, case)
    new = max(snap.seg_ids)
    n = next(s["num_docs"] for s in snap.segments if s["seg_id"] == new)
    soft = load_deletes(SnapshotCatalog(d), snap, [new],
                        key="soft_deletes")[new]
    assert len(soft) and soft.min() >= 0 and soft.max() < n
    assert live_docs() == before


def _merge_body_jobs(spark_jobs, spark, monkeypatch, d, case) -> int:
    """Spark jobs the merge runs before its commit."""
    from lucene_spark.operators import merge as merge_mod
    sc = spark.sparkContext
    commit = merge_mod._commit_merge

    def own_group(*a, **kw):
        sc.setJobGroup("merge-commit", "merge-commit")
        return commit(*a, **kw)

    monkeypatch.setattr(merge_mod, "_commit_merge", own_group)
    _, jobs = spark_jobs(f"merge-body-{case}", lambda: _merge(spark, d, case))
    return len(jobs)


@pytest.mark.parametrize("case,bound", [
    ("tombstones", 2), ("sort_asc_tombstones", 2), ("dv_updates", 2),
    ("soft_retention", 3)])
def test_merge_body_is_two_fan_outs(spark_jobs, spark, monkeypatch, case,
                                    bound, tmp_path):
    d = _prepare(spark, case, tmp_path)
    assert _merge_body_jobs(spark_jobs, spark, monkeypatch, d, case) <= bound


def test_merged_parts_read_back_sorted(spark, many_parts, tmp_path):
    """The part files of a merged segment are term and doc-id ranges in
    order, so a plain pyarrow read of each directory is globally sorted."""
    import pyarrow.parquet as pq

    from lucene_spark.sources.catalog import SnapshotCatalog
    d = _prepare(spark, "tombstones", tmp_path)
    snap = _merge(spark, d, "tombstones")
    seg_dir = SnapshotCatalog(d).segment_dir(max(snap.seg_ids))
    for name, key in (("postings", "term"), ("doc_meta", "local_doc_id")):
        path = os.path.join(seg_dir, f"{name}.parquet")
        assert len(os.listdir(path)) > 1
        keys = pq.read_table(path, columns=[key]).column(key).to_pylist()
        assert keys == sorted(keys) and len(set(keys)) == len(keys)


def test_nested_doc_meta_column_survives_build_and_merge(spark, tmp_path):
    """Segment files choose dictionary pages per column; a list column of
    the source has none to choose and still round-trips through build and
    merge."""
    import pyarrow.parquet as pq

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.merge import merge_segments
    from lucene_spark.sources.catalog import SnapshotCatalog
    pdf = _corpus().head(60).copy()
    pdf["tags"] = [[f"t{i % 3}"] * (1 + i % 3) for i in range(len(pdf))]
    d = str(tmp_path / "nested")
    snap = build_index(spark, spark.createDataFrame(pdf), d, num_segments=3)
    snap = merge_segments(spark, d, snap.seg_ids)
    meta = pq.read_table(os.path.join(
        SnapshotCatalog(d).segment_dir(max(snap.seg_ids)),
        "doc_meta.parquet"), columns=["doc_id", "tags"]).to_pylist()
    assert {r["doc_id"]: r["tags"] for r in meta} == \
        dict(zip(pdf["doc_id"], pdf["tags"]))

if __name__ == "__main__":
    import sys
    if len(sys.argv) != 3 or sys.argv[1] != "--record":
        sys.exit("usage: python tests/test_merge_goldens.py --record PATH")
    sys.path.insert(0, os.path.dirname(_HERE))
    from pyspark.sql import SparkSession
    session = (SparkSession.builder.master("local[4]")
               .config("spark.sql.shuffle.partitions", "4")
               .config("spark.ui.enabled", "false").getOrCreate())
    digests = record(session)
    os.makedirs(os.path.dirname(os.path.abspath(sys.argv[2])), exist_ok=True)
    with open(sys.argv[2], "w", encoding="utf-8") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    session.stop()
