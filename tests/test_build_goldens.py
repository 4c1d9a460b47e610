"""A built segment holds, row for row, what the reference build wrote.

``data/build/goldens.json`` holds, for each case below, the sha256 of
every segment file's rows (postings by term with every byte column raw,
``norms.parquet``, doc_meta by ``local_doc_id``) and each file's arrow
schema with its metadata, for every segment of the committed snapshot. It
also holds ``stats.json`` less the task that built the segment, the term
dictionary's rows and schema, ``field_stats`` and, where written, the
term-vector sidecar's rows. A change to how documents reach the segment
kernel (placement, batching, where the content hash is computed) must
leave all of them as they are. Record with
``python tests/test_build_goldens.py --record PATH`` from the repo root.

The tests after the goldens pin the build's shape: one Spark task builds
exactly one segment, and input the kernel cannot index is refused before
any snapshot is committed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

import numpy as np
import pytest

_HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(_HERE, "data", "build", "goldens.json")

N_DOCS = 240
NUM_SEGMENTS = 16
SORT_FIELD = "rank"
#: the segment a resume rebuilds after its directory is removed
RESUMED_SEG = 5
#: docs per Arrow batch in the ``small_batches`` case: each of its
#: segments reaches the kernel in several batches
SMALL_BATCH = 64

CASES = ["plain", "update_documents", "append", "resume", "null_unicode",
         "sort", "payloads", "term_vectors", "small_batches"]


def _corpus(n=N_DOCS, seed=7):
    from lucene_spark.sources.corpus import generate_corpus
    pdf = generate_corpus(n, seed=seed)
    # few distinct keys, so the sort's doc-id tie-break is exercised
    pdf[SORT_FIELD] = ((pdf["doc_id"] * 37) % 11).astype("int64")
    return pdf


def _unicode_docs():
    words = ["Zürich", "café", "naïve", "東京", "données", "ŞİŞLİ",
             "straße", "emoji🙂", "parse", "flush"]
    rows = []
    for d in range(48):
        text = " ".join(words[(d * 3 + i) % len(words)]
                        for i in range(2 + d % 7))
        rows.append((d, None if d % 11 == 4 else text,
                     None if d % 5 == 0 else f"t{d % 3}"))
    return rows


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


def _build_case(spark, case, d) -> None:
    """Build (and append to, or resume) the index of ``case`` at ``d``."""
    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.delete import update_documents
    from lucene_spark.sources.catalog import SnapshotCatalog
    if case == "null_unicode":
        build_index(spark, spark.createDataFrame(
            _unicode_docs(), "doc_id long, content string, tag string"), d,
            num_segments=4)
    elif case == "payloads":
        build_index(spark, spark.createDataFrame(
            _payload_docs(), "doc_id long, content string"), d,
            num_segments=4, payload_delimiter="|", tokenizer="whitespace")
    elif case == "sort":
        build_index(spark, spark.createDataFrame(_corpus()), d,
                    num_segments=NUM_SEGMENTS, sort_field=SORT_FIELD,
                    sort_ascending=False)
    elif case == "term_vectors":
        build_index(spark, spark.createDataFrame(_corpus()), d,
                    num_segments=4, store_term_vectors=True)
    elif case == "resume":
        build_index(spark, spark.createDataFrame(_corpus()), d,
                    num_segments=NUM_SEGMENTS, build_id=case)
        shutil.rmtree(SnapshotCatalog(d).segment_dir(RESUMED_SEG))
        build_index(spark, spark.createDataFrame(_corpus()), d,
                    num_segments=NUM_SEGMENTS, build_id=case)
    elif case == "small_batches":
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        before = spark.conf.get(key)
        spark.conf.set(key, str(SMALL_BATCH))
        try:
            build_index(spark, spark.createDataFrame(_corpus(600)), d,
                        num_segments=4)
        finally:
            spark.conf.set(key, before)
    else:
        build_index(spark, spark.createDataFrame(_corpus()), d,
                    num_segments=NUM_SEGMENTS)
    if case == "update_documents":
        # replaces 20 docs through a one-segment build at the next seg id
        new = _corpus(20, seed=11)
        new["doc_id"] = new["doc_id"] * 7
        update_documents(spark, d, spark.createDataFrame(new))
    elif case == "append":
        new = _corpus(90, seed=3)
        new["doc_id"] = new["doc_id"] + 10_000
        build_index(spark, spark.createDataFrame(new), d, num_segments=5)


def _rows_digest(tbl, keys) -> str:
    tbl = tbl.sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256()
    for name in tbl.column_names:
        h.update(repr((name, tbl.column(name).to_pylist())).encode())
    return h.hexdigest()


def _file_digests(path, keys) -> dict:
    """Rows and schema of one parquet file, or of a directory of parts."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    schema = (pq.read_schema(path) if os.path.isfile(path)
              else ds.dataset(path, format="parquet").schema)
    return {"rows": _rows_digest(pq.read_table(path), keys),
            "schema": schema.to_string(show_schema_metadata=True,
                                       show_field_metadata=True)}


def _digests(d) -> dict:
    from lucene_spark.sources.catalog import SnapshotCatalog
    catalog = SnapshotCatalog(d)
    snap = catalog.load()
    segs = {}
    for seg in sorted(snap.segments, key=lambda s: s["seg_id"]):
        seg_dir = catalog.segment_dir(seg["seg_id"])
        out = {name: _file_digests(os.path.join(seg_dir, f"{name}.parquet"),
                                   keys)
               for name, keys in (("postings", ["term"]),
                                  ("norms", ["seg_id"]),
                                  ("doc_meta", ["local_doc_id"]))}
        with open(os.path.join(seg_dir, "stats.json")) as f:
            stats = json.load(f)
        # which task built a segment is placement, not content
        out["stats"] = {k: v for k, v in stats.items()
                        if k not in ("build_partition", "status")}
        segs[str(seg["seg_id"])] = out
    got = {"segments": segs,
           "term_dict": _file_digests(snap.term_stats_path, ["term"]),
           "field_stats": dict(snap.field_stats)}
    tv = os.path.join(d, "term_vectors")
    if os.path.isdir(tv):
        got["term_vectors"] = {
            name: _file_digests(os.path.join(tv, name), ["doc_id"])["rows"]
            for name in sorted(os.listdir(tv))}
    return got


def _case_digests(spark, case, root) -> dict:
    d = os.path.join(str(root), case)
    _build_case(spark, case, d)
    return json.loads(json.dumps(_digests(d)))


def record(spark) -> dict:
    with tempfile.TemporaryDirectory(prefix="build_goldens_") as root:
        return {case: _case_digests(spark, case, root) for case in CASES}


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDENS, encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("case", CASES)
def test_built_segments_match_golden(spark, goldens, case, tmp_path):
    got = _case_digests(spark, case, tmp_path)
    want = goldens[case]
    assert set(got) == set(want)
    assert set(got["segments"]) == set(want["segments"])
    for seg, files in want["segments"].items():
        for key in files:
            assert got["segments"][seg][key] == files[key], (case, seg, key)
    for key in set(want) - {"segments"}:
        assert got[key] == want[key], (case, key)


def test_each_task_builds_one_segment(spark, tmp_path):
    """Partition ``i`` of a build holds the build's ``i``-th segment id,
    and nothing else."""
    from lucene_spark.operators.build import build_index
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(_corpus()), d,
                num_segments=NUM_SEGMENTS)
    new = _corpus(90, seed=3)
    new["doc_id"] = new["doc_id"] + 10_000
    snap = build_index(spark, spark.createDataFrame(new), d, num_segments=5)
    assert len(snap.segments) == NUM_SEGMENTS + 5
    for seg in snap.segments:
        offset = NUM_SEGMENTS if seg["seg_id"] >= NUM_SEGMENTS else 0
        assert seg["build_partition"] == seg["seg_id"] - offset, seg


def test_null_doc_id_is_refused(spark, tmp_path):
    from lucene_spark.operators.build import build_index
    from lucene_spark.sources.catalog import SnapshotCatalog
    d = str(tmp_path / "idx")
    df = spark.createDataFrame([(1, "alpha beta"), (None, "gamma"),
                                (6, "delta")], "key long, content string")
    with pytest.raises(Exception, match="'key' holds a null doc id"):
        build_index(spark, df, d, num_segments=4, doc_id_col="key")
    assert SnapshotCatalog(d).load() is None


def test_non_string_content_is_refused(spark, tmp_path):
    from lucene_spark.operators.build import build_index
    from lucene_spark.sources.catalog import SnapshotCatalog
    d = str(tmp_path / "idx")
    df = spark.createDataFrame([(1, 7), (2, 8)], "doc_id long, content long")
    with pytest.raises(TypeError, match="'content' is bigint"):
        build_index(spark, df, d, num_segments=2)
    assert SnapshotCatalog(d).load() is None


if __name__ == "__main__":
    import sys
    if len(sys.argv) != 3 or sys.argv[1] != "--record":
        sys.exit("usage: python tests/test_build_goldens.py --record PATH")
    sys.path.insert(0, os.path.dirname(_HERE))
    from pyspark.sql import SparkSession
    session = (SparkSession.builder.master("local[4]")
               .config("spark.sql.shuffle.partitions", "4")
               .config("spark.sql.execution.arrow.pyspark.enabled", "true")
               .config("spark.ui.enabled", "false").getOrCreate())
    digests = record(session)
    os.makedirs(os.path.dirname(os.path.abspath(sys.argv[2])), exist_ok=True)
    with open(sys.argv[2], "w", encoding="utf-8") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    session.stop()
