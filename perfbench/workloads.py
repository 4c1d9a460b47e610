"""The benchmark's workloads and the spans it records around each call into
the engine's layers.

Every workload starts the same way: one Spark session on ``local[4]``, a
seeded ``generate_corpus`` written to parquet, one ``build_index`` into 16
segments (also the Spark/JIT warm-up), then ``SETUP_REPS`` set-ups, each
opening a ``Searcher`` on that index and running its first query. Work a
change moves into opening or a first query shows in ``setup_s``; work it
moves into the build shows in ingest's ``op_cpu_ms`` and in ``build_s``.
The workload's own operations are timed after all of this and one untimed
warm-up.

The end-to-end times are CPU times of the whole system (this process, the
Spark JVM and its Python workers), not wall times: on a shared 4-core host
the share of time the host steals varied from 3 to 22 % between runs, and
the median query wall time with it by up to 1.8x, while CPU time moved
far less. Wall times, with their tail, are in every run's detail line.
CPU time cannot see a change that serializes work onto fewer cores or adds
idle waits, so ``build_s`` is an end-to-end metric too: the median wall
time of a warm build less the time the hypervisor stole from each CPU
during it. Raw build walls moved with steal (about 2.4 s in runs with 1 %
steal, 3.1-3.4 s in runs with 7-8 %); a build keeps every CPU busy, so the
time stolen from each is time the build waited for a CPU the machine did
not get. A build serialized onto one core, or an idle wait, still shows in
full. The search workload times ``REF_BUILDS`` builds after its set-up to
report it. Query walls spread too widely between runs for any bound the
benchmark may set, so query latency is only the per-layer
``wall.op_p50_ms``: an idle wait added to a query shows in no bounded
metric.

Traced runs (``--trace 1``) add what untraced runs must not pay for:
Spark job accounting per operation, spans around the driver-side layers
(installed by wrapping the calls at run time; no engine file changes),
an in-process kernel probe per query, a 1-core invert probe, and one
churn cycle (update, delete, merge, reopen, batch read) so the write layers
report too. In a traced run every operation of the timed window runs
twice, traced and untraced, in alternating order: every operation the
stream yields is traced, and ``trace.overhead_ratio`` compares the same
operations.

Churn is no timed workload of its own: a run pays about 20 s of JVM start,
cold first build and set-ups before it times anything, and a churn window
needs a warm-up and a timed cycle of about 10 s each on top. Keeping it to
the traced run keeps a full set of seeded runs short.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import subprocess
import time
from contextlib import ExitStack, contextmanager
from pathlib import Path

import numpy as np
import pandas as pd

from measure import (Tally, Tracer, count_jobs, steal_ticks, stolen_per_cpu_s,
                     tree_cpu_s)

N_DOCS = 5_000
NUM_SEGMENTS = 16
SETUP_REPS = 3
#: untimed builds after the set-up one: the first build after it runs
#: slower than later ones
WARM_BUILDS = 1
K = 10
#: docs the traced churn cycle replaces
CHURN_UPDATE_DOCS = 40
#: the churn cycle deletes by a term whose df is within this share of the
#: corpus
CHURN_DELETE_DF = (0.002, 0.008)
#: builds the search workload times for ``build_s``
REF_BUILDS = 5
#: the interactive stream's hot subset: this many queries of each shape
#: take this share of the shape's picks. Chosen, not measured: the mix
#: only has to repeat some queries so a driver-side cache would show.
HOT_PER_SHAPE = 2
HOT_SHARE = 0.5
#: docs the 1-core invert probe analyzes and inverts
INVERT_PROBE_DOCS = 2000
#: the workload operation whose Spark jobs ``spark.*_per_op`` count
OP_NAME = {"ingest": "build", "search_interactive": "query"}
#: seeds are folded below this: numpy's RandomState, which the corpus and
#: query generators use, takes 0 <= seed < 2**32, and the benchmark adds
#: small offsets to the seed for its own generators
SEED_RANGE = 2**31


def fold_seed(seed: int) -> int:
    """Any integer seed (negative, or 2**32 and above) as one the
    generators accept; seeds already in range stay as they are."""
    return seed % SEED_RANGE


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def text_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def snapshot_bytes(index_dir: str) -> int:
    """Bytes of what the latest snapshot of a freshly built index
    references: its segments, term stats and manifest."""
    from lucene_spark.sources.catalog import SnapshotCatalog
    cat = SnapshotCatalog(index_dir)
    snap = cat.load()
    total = sum(dir_bytes(cat.segment_dir(s)) for s in snap.seg_ids)
    total += dir_bytes(snap.term_stats_path)
    total += os.path.getsize(os.path.join(
        cat.manifest_dir, f"snapshot-{snap.snapshot_id}.json"))
    return total


class CorpusTerms:
    """The benchmark's own record of which documents hold which terms,
    to check the engine's snapshot stats and churn results."""

    def __init__(self, pdf: pd.DataFrame):
        from lucene_spark.functions.analysis import analyze_text
        self.content = dict(zip(pdf["doc_id"].tolist(), pdf["content"].tolist()))
        self.docs_of: dict[str, set[int]] = {}
        self.sum_ttf = 0
        for d, text in self.content.items():
            terms = analyze_text(text)[0]
            self.sum_ttf += len(terms)
            for t in set(terms):
                self.docs_of.setdefault(t, set()).add(d)


def make_queries(dfs: dict[str, int], seed: int) -> dict[str, str]:
    """``generate_query_set`` (df-banded terms, AND, OR, phrases, absent
    terms) plus sloppy phrases and prefix queries that expand to a few
    dictionary terms."""
    from lucene_spark.sources.queryset import generate_query_set
    qs = generate_query_set(dfs, seed)
    rng = np.random.RandomState(seed + 1)
    by_df = sorted(dfs, key=lambda t: (-dfs[t], t))
    head = by_df[: max(2, len(by_df) // 3)]
    for i in range(5):
        a, b = head[rng.randint(len(head))], head[rng.randint(len(head))]
        qs[f"sloppy_{i:02d}"] = f'"{a} {b}"~{1 + i % 3}'
    # prefixes of plain alphanumeric terms only: the engine expands them
    # with SQL LIKE, where "_" and "%" are wildcards
    plain = sorted({t[:4] for t in dfs if t.isascii() and t.isalnum()
                    and len(t) > 5})
    counts = {p: sum(1 for t in dfs if t.startswith(p)) for p in plain}
    ok = [p for p in plain if 2 <= counts[p] <= 64]
    for i in range(min(4, len(ok))):
        qs[f"prefix_{i:02d}"] = ok[rng.randint(len(ok))] + "*"
    return qs


def queries_by_shape(qs: dict[str, str]) -> dict[str, list[str]]:
    """Query ids per shape (the id's prefix). Absent terms are left out:
    they end before any Spark job, so they would skew a timed mix."""
    by_shape: dict[str, list[str]] = {}
    for qid in sorted(qs):
        if not qs[qid].startswith("zz_absent"):
            by_shape.setdefault(qid.rsplit("_", 1)[0], []).append(qid)
    return by_shape


def shape_cycle(counts: dict[str, int]) -> list[str]:
    """One period of shapes, each as often as its count, spread evenly by
    smooth weighted round robin (ties go to the earlier shape)."""
    total = sum(counts.values())
    credit = dict.fromkeys(counts, 0)
    out = []
    for _ in range(total):
        for shape, n in counts.items():
            credit[shape] += n
        pick = max(credit, key=credit.get)
        credit[pick] -= total
        out.append(pick)
    return out


def query_stream(qs: dict[str, str], seed: int, cover: bool = False):
    """Endless seeded stream of query ids. Shapes come in the proportions
    of the query set itself (``generate_query_set``'s counts plus the
    sloppy and prefix ones of ``make_queries``), in one order for every
    seed. With ``cover``, one query of each shape comes first, so that
    even a short window reaches every shape. Within a shape a seeded hot
    pair takes ``HOT_SHARE`` of the picks."""
    rng = np.random.RandomState(seed + 2)
    by_shape = queries_by_shape(qs)
    hot = {shape: rng.choice(ids, min(HOT_PER_SHAPE, len(ids)),
                             replace=False).tolist()
           for shape, ids in by_shape.items()}
    cycle = shape_cycle({shape: len(ids) for shape, ids in by_shape.items()})
    for shape in itertools.chain(by_shape if cover else (),
                                 itertools.cycle(cycle)):
        pool = hot[shape] if rng.rand() < HOT_SHARE else by_shape[shape]
        yield pool[rng.randint(len(pool))]


def f32_bits(hits) -> list[tuple[int, int]]:
    """(doc_id, float32 bit pattern) per hit: exact comparison of scores."""
    return [(int(d), int(np.float32(s).view(np.uint32))) for d, s in hits]


class Bench:
    """One run of one workload: owns the Spark session, the work
    directory, the tracer and the failure tally."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: Path):
        self.workload = workload
        self.seed = fold_seed(seed)
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(trace)
        self.tally = Tally()
        self.spark = None
        self.samples: dict[str, list[float]] = {}
        self.detail: dict = {}
        self.jobs: list = []
        self.op_ms: list[float] = []
        #: what each timed operation did: "build", or the query id
        self.op_what: list[str] = []
        self.op_cpu_ms: list[float] = []
        self.build_s: list[float] = []
        self.pid = os.getpid()
        self._patches = ExitStack()
        self._op_seq = 0
        self._untraced_ms: list[float] = []
        self._traced_ms: list[float] = []

    # -- plumbing -----------------------------------------------------------
    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def spark_conf(self) -> dict[str, str]:
        # The JVM compiles with C1 only. With C2 as well, compilation kept
        # adding CPU time to every operation of a one-minute run (4-core
        # VM, 5k-doc corpus): a build's CPU fell from 9.3 to 6.5 s over its
        # first five builds and a query's from about 2 s to 1.1 s over
        # forty, while with C1 alone both were flat from the first
        # (5.5-6.7 s, 0.7-1.2 s).
        return {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir=\"{self.work / 'tmp'}\" -XX:-UsePerfData"
                " -XX:TieredStopAtLevel=1",
        }

    def start_session(self, master: str):
        from lucene_spark.session import get_session
        self.spark = get_session(master, "perfbench", shuffle_partitions=4,
                                 **self.spark_conf())
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop Spark, the JVM it launched and its Python workers; the JVM
        is killed if Spark or the gateway fails to stop, or it outlives
        ``terminate`` by 30 s."""
        self._patches.close()
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
        finally:
            self.spark = None
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    @contextmanager
    def op(self, name: str, traced: bool = True):
        """One benchmark operation: a top-level span and, when traced, its
        own Spark job group so the status tracker can count its jobs."""
        self._op_seq += 1
        op_id = f"{name}-{self._op_seq}"
        was = self.tracer.enabled
        self.tracer.enabled = self.trace and traced
        sc = self.spark.sparkContext
        if self.tracer.enabled:
            sc.setJobGroup(op_id, name)
        try:
            with self.tracer.op(op_id, name):
                yield op_id
        finally:
            if self.tracer.enabled:
                self.jobs.append((name, count_jobs(sc.statusTracker(), op_id)))
            self.tracer.enabled = was

    def window(self, min_ops: int = 1):
        """Yields (index, modes) for the timed window's operations: at
        least ``min_ops``, and another only while the mean so far says it
        will end inside ``seconds``, so slow operations do not overrun the
        window by a varying count. ``modes`` says how to run the operation:
        ``(False,)`` untraced, or in a traced run once traced and once
        untraced, the order alternating so neither run is always second."""
        t0 = time.perf_counter()
        i = 0
        while True:
            if not self.trace:
                yield i, (False,)
            else:
                yield i, (True, False) if i % 2 == 0 else (False, True)
            i += 1
            elapsed = time.perf_counter() - t0
            if i >= min_ops and elapsed * (i + 1) / i > self.seconds:
                return

    @contextmanager
    def stopwatch(self):
        """Wall, CPU and stolen (per CPU) milliseconds of the block, put
        in the yielded dict when it ends without raising."""
        out: dict[str, float] = {}
        s0 = steal_ticks()
        c0, t0 = tree_cpu_s(self.pid), time.perf_counter()
        yield out
        out["wall_ms"] = (time.perf_counter() - t0) * 1e3
        out["cpu_ms"] = (tree_cpu_s(self.pid) - c0) * 1e3
        out["stolen_ms"] = stolen_per_cpu_s(s0, steal_ticks()) * 1e3

    def timed(self, sw: dict[str, float], traced: bool, what: str) -> None:
        self.op_what.append(what)
        self.op_ms.append(sw["wall_ms"])
        self.op_cpu_ms.append(sw["cpu_ms"])
        (self._traced_ms if traced else self._untraced_ms).append(sw["wall_ms"])

    def install_spans(self) -> None:
        """Traced runs: spans around calls the engine makes into its own
        layers (term stats, catalog loads, query rewrites)."""
        import lucene_spark.operators.build as build_mod
        import lucene_spark.plans.query as query_mod
        from lucene_spark.sources.catalog import SnapshotCatalog
        self._patch(build_mod, "compute_term_stats", "build.term_stats")
        self._patch(SnapshotCatalog, "load", "catalog.load")
        self._patch(query_mod, "rewrite_fixed_point", "plans.rewrite")

    def _patch(self, owner, attr: str, span: str) -> None:
        orig = getattr(owner, attr)
        tracer = self.tracer

        def wrapped(*a, **kw):
            with tracer.span(span):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        self._patches.callback(setattr, owner, attr, orig)

    def instrument(self, searcher) -> None:
        """Spans around a Searcher's driver phases (resolve, stats probe,
        compile); only the outermost ``_resolve`` of a recursion opens one."""
        tracer = self.tracer

        def wrap(fn, span, outermost_only=False):
            def wrapped(*a, **kw):
                if outermost_only and tracer.in_span(span):
                    return fn(*a, **kw)
                with tracer.span(span):
                    return fn(*a, **kw)
            return wrapped

        searcher._resolve = wrap(searcher._resolve, "search.resolve", True)
        searcher._global_stats = wrap(searcher._global_stats,
                                      "search.stats_probe")
        searcher._compile = wrap(searcher._compile, "search.compile")

    # -- engine calls ---------------------------------------------------------
    def build(self, index_dir: Path, df=None):
        from lucene_spark.operators.build import build_index
        shutil.rmtree(index_dir, ignore_errors=True)
        with self.tracer.span("build.index"):
            return build_index(self.spark,
                               self.corpus_df if df is None else df,
                               str(index_dir), num_segments=NUM_SEGMENTS)

    def open(self, index_dir: Path):
        from lucene_spark.operators.search import Searcher
        with self.tracer.span("search.open"):
            s = Searcher(self.spark, str(index_dir))
        if self.trace:
            self.instrument(s)
        return s

    def query(self, searcher, text: str) -> list[tuple[int, float]]:
        from lucene_spark.plans.parser import parse
        with self.tracer.span("plans.parse"):
            q = parse(text)
        with self.tracer.span("search.job"):
            rows = searcher.search(q, k=K).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def check_snapshot(self, snap) -> str:
        """Empty when the snapshot's document count and sum of term
        frequencies equal the corpus's, else what differs."""
        fs = snap.field_stats
        want = (N_DOCS, self.terms.sum_ttf)
        got = (fs["doc_count"], fs["sum_total_term_freq"])
        return "" if got == want else f"snapshot stats {got} != {want}"

    # -- set-up -----------------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        self.start_session("local[4]")
        self.detail["session_s"] = time.perf_counter() - t0
        if self.trace:
            self.install_spans()
        from lucene_spark.sources.corpus import generate_corpus
        t0 = time.perf_counter()
        self.pdf = generate_corpus(N_DOCS, seed=self.seed)
        path = self.work / "corpus.parquet"
        self.pdf.to_parquet(path, index=False)
        self.corpus_df = self.spark.read.parquet(str(path))
        self.detail["corpus_s"] = time.perf_counter() - t0
        self.terms = CorpusTerms(self.pdf)
        self.content_bytes = text_bytes(self.pdf["content"])

        self.index_dir = self.work / "index"
        t0 = time.perf_counter()
        with self.op("setup-build"):
            snap = self.build(self.index_dir)
        self.detail["setup_build_s"] = time.perf_counter() - t0
        why = self.check_snapshot(snap)
        self.tally.record(not why, f"set-up build: {why}")
        self.setup_segments = snap.segments
        self.index_bytes_ratio = (snapshot_bytes(str(self.index_dir))
                                  / self.content_bytes)
        self.queries = make_queries(self._dfs(snap), self.seed)
        self.setup_s, self.setup_cpu_s = [], []
        for rep in range(SETUP_REPS):
            with self.stopwatch() as sw, self.op("setup"):
                self.searcher = self.open(self.index_dir)
                hits = self.query(self.searcher, self.queries["or_00"])
            self.setup_s.append(sw["wall_ms"] / 1e3)
            self.setup_cpu_s.append(sw["cpu_ms"] / 1e3)
            why = ""
            if self.trace:
                why = self.kernel_probe(self.searcher, self.queries["or_00"], hits)
            self.tally.record(not why, f"set-up {rep}: {why}")
        self.detail["setup_reps_s"] = self.setup_s
        self.detail["setup_reps_cpu_s"] = self.setup_cpu_s

    def _dfs(self, snap) -> dict[str, int]:
        import pyarrow.parquet as pq
        t = pq.read_table(snap.term_stats_path, columns=["term", "df"])
        return dict(zip(t.column("term").to_pylist(),
                        t.column("df").to_pylist()))

    # -- probes -------------------------------------------------------------------
    def kernel_probe(self, searcher, text: str, spark_hits) -> str:
        """Score the query's segments in this process the way
        ``Searcher.search`` does per segment, to split the job's time into
        kernel and Spark overhead. Returns what differs when the merged
        top-k is not Spark's."""
        import pyarrow.parquet as pq
        from lucene_spark.operators.search import (
            Searcher, _compiled_terms, _live_mask, _SegContext, score_segment)
        from lucene_spark.plans.parser import parse
        was, self.tracer.enabled = self.tracer.enabled, False
        try:
            compiled, cache = Searcher._compile(searcher, parse(text))
        finally:
            self.tracer.enabled = was
        if compiled is None:
            return "" if not spark_hits else f"{text!r}: no query, Spark hits"
        terms = sorted(set(_compiled_terms(compiled)))
        cat = searcher.catalog
        t0 = time.perf_counter()
        segs = []
        for seg in searcher.snapshot.seg_ids:
            d = cat.segment_dir(seg)
            rows = pq.read_table(os.path.join(d, "postings.parquet"),
                                 filters=[("term", "in", terms)]).to_pylist()
            if rows:  # like the cogroup: no postings, no kernel call
                norms = pq.read_table(
                    os.path.join(d, "norms.parquet")).to_pylist()[0]
                segs.append((seg, {r["term"]: r for r in rows}, norms))
        read_ms = (time.perf_counter() - t0) * 1e3
        score_ms, gs, ss, hits, n_rows = [], [], [], 0, 0
        for seg, rows, norms in segs:
            t0 = time.perf_counter()
            norm_bytes = np.frombuffer(norms["norm_bytes"], dtype=np.uint8)
            gids = np.frombuffer(norms["global_doc_ids"], dtype="<i8")
            ctx = _SegContext(rows, norm_bytes, cache, searcher.similarity,
                              live=_live_mask(searcher.deletes, seg,
                                              len(norm_bytes)))
            g, s, h = score_segment(compiled, rows, norm_bytes, gids, cache,
                                    K, "auto", None, ctx=ctx)
            score_ms.append((time.perf_counter() - t0) * 1e3)
            gs.append(g)
            ss.append(s.astype(np.float32))
            hits += h
            n_rows += len(rows)
        local = []
        if segs:
            g, s = np.concatenate(gs), np.concatenate(ss)
            local = [(g[i], s[i]) for i in
                     np.lexsort((g, -s.astype(np.float64)))[:K]]
        self.add("kernel.read_ms", read_ms)
        self.add("kernel.score_sum_ms", sum(score_ms))
        self.add("kernel.score_max_ms", max(score_ms, default=0.0))
        self.add("kernel.segments", len(segs))
        self.add("kernel.postings_rows", n_rows)
        self.add("kernel.hits", hits)
        job = self.tracer.self_ms_by_op("search.job")
        self.add("spark.overhead_ms",
                 job[-1] - max(score_ms, default=0.0) - read_ms)
        if f32_bits(local) != f32_bits(spark_hits):
            return f"{text!r}: in-process top-{K} differs from Spark's"
        return ""

    def invert_probe(self) -> None:
        """``invert_segment`` alone on a fixed slice, in this process."""
        from lucene_spark.operators.build import invert_segment
        part = self.pdf.head(INVERT_PROBE_DOCS)
        for _ in range(3):
            t0 = time.perf_counter()
            invert_segment(part, 0, "content", "doc_id", frozenset(), True)
            self.add("build.invert_docs_per_s_1core",
                     len(part) / (time.perf_counter() - t0))

    # -- workloads ------------------------------------------------------------------
    def checked_build(self, index_dir: Path, name: str, traced: bool) \
            -> dict | None:
        """One build of the whole corpus, checked and removed again; its
        stopwatch reading, or None if it raised. Warm builds (all but
        ``warm-up``) add their wall time less stolen time to ``build_s``."""
        try:
            with self.stopwatch() as sw, self.op(name, traced):
                snap = self.build(index_dir)
        except Exception as e:  # noqa: BLE001 — count it and go on
            self.tally.record(False, f"{name}: {e!r}")
            return None
        why = self.check_snapshot(snap)
        self.tally.record(not why, f"{name}: {why}")
        shutil.rmtree(index_dir)
        if name != "warm-up":
            self.build_s.append((sw["wall_ms"] - sw["stolen_ms"]) / 1e3)
        return sw

    def run_ingest(self) -> None:
        """``build_index`` of the whole corpus, again and again, after
        ``WARM_BUILDS`` untimed ones."""
        index_dir = self.work / "ingest"
        for _ in range(WARM_BUILDS):
            self.checked_build(index_dir, "warm-up", False)
        for _, modes in self.window():
            for traced in modes:
                sw = self.checked_build(index_dir, "build", traced)
                if sw is not None:
                    self.timed(sw, traced, "build")
        self.detail["build_docs_per_s"] = N_DOCS / (_median(self.op_ms) / 1e3)

    def run_search_interactive(self) -> None:
        """One client, one top-10 ``Searcher.search`` per operation. First
        come ``REF_BUILDS`` builds for ``build_s`` (with no warm-up
        build of their own: the median passes over the first, slower one),
        then one untimed query per shape: the first run of a plan shape
        costs up to twice a warm one."""
        from lucene_spark.oracle import OracleIndex
        from lucene_spark.plans.parser import parse
        ops: list[tuple[str, str]] = []          # (query id, failure)
        first: dict[str, list] = {}

        def ask(qid: str, name: str, traced: bool) -> dict | None:
            """Runs and checks one query; its stopwatch reading, or None if
            it raised. The checks are not timed."""
            try:
                with self.stopwatch() as sw, self.op(name, traced):
                    hits = self.query(self.searcher, self.queries[qid])
            except Exception as e:  # noqa: BLE001 — count it and go on
                ops.append((qid, repr(e)))
                return None
            why = ""
            if traced and self.trace:
                why = self.kernel_probe(self.searcher, self.queries[qid], hits)
            if f32_bits(first.setdefault(qid, hits)) != f32_bits(hits):
                why = why or "repeat differs from first answer"
            ops.append((qid, why))
            return sw

        builds = self.work / "builds"
        for _ in range(REF_BUILDS):
            self.checked_build(builds, "build", True)
        by_shape = queries_by_shape(self.queries)
        for ids in by_shape.values():
            ask(ids[0], "warm-up", False)
        # a traced window runs at least one query of each shape
        stream = query_stream(self.queries, self.seed, cover=self.trace)
        min_ops = len(by_shape) if self.trace else 1
        for _, modes in self.window(min_ops):
            qid = next(stream)
            for traced in modes:
                sw = ask(qid, "query", traced)
                if sw is not None:
                    self.timed(sw, traced, qid)
        # every distinct query against the oracle, outside all timing
        oracle = OracleIndex.build(list(self.terms.content.items()))
        wrong = {qid for qid, hits in first.items()
                 if f32_bits(hits) != f32_bits(
                     oracle.top_k(parse(self.queries[qid]), K))}
        for qid, why in ops:
            if qid in wrong:
                why = why or f"top-{K} differs from OracleIndex"
            self.tally.record(not why, f"{qid}: {why}")
        self.detail["distinct_queries"] = len(first)

    def traced_extras(self) -> None:
        """After a traced run's window: the probes every workload reports.
        One churn cycle, so the delete and merge layers report. Last, one
        warm build at ``local[4]`` and the same build at ``local[1]`` (a new
        context in the same JVM, warmed on a small slice)."""
        self.invert_probe()
        why = self.churn_cycle()
        self.tally.record(not why, f"churn cycle: {why}")
        t0 = time.perf_counter()
        with self.op("build"):
            snap = self.build(self.work / "index-4core")
        t4 = time.perf_counter() - t0
        why = self.check_snapshot(snap)
        self.tally.record(not why, f"4-core build: {why}")
        self.spark.stop()
        self.start_session("local[1]")
        self.corpus_df = self.spark.read.parquet(str(self.work / "corpus.parquet"))
        self.build(self.work / "warm-1core", self.corpus_df.limit(500))
        t0 = time.perf_counter()
        snap = self.build(self.work / "index-1core")
        t1 = time.perf_counter() - t0
        why = self.check_snapshot(snap)
        self.tally.record(not why, f"1-core build: {why}")
        self.detail["build_4core_s"] = t4
        self.detail["build_1core_s"] = t1
        self.add("build.scaling_1to4", (t1 / t4) / 4)

    def churn_cycle(self) -> str:
        """Single writer, then reads, on a copy of the set-up index: update
        ``CHURN_UPDATE_DOCS`` docs (new content carries a marker term),
        delete by a mid-df term, run a tiered ``maintain`` merge, reopen
        and read a burst of one seeded query per shape plus the marker.
        Returns what the checks found wrong.

        The cycle is never repeated on the same index, because at this
        engine version ``update_documents`` is wrong on an index that
        already has tombstones or merged segments: its commit drops the
        earlier tombstones and revives merged-away segments."""
        from lucene_spark.operators.delete import delete_by_term, update_documents
        from lucene_spark.operators.merge import maintain
        from lucene_spark.plans.parser import parse as parse_query
        rng = np.random.RandomState(self.seed + 3)
        index_dir = self.work / "churn"
        shutil.copytree(self.index_dir, index_dir)
        ids = sorted(rng.choice(N_DOCS, CHURN_UPDATE_DOCS, replace=False).tolist())
        marker = "zzchurn"
        upd = self.pdf.set_index("doc_id").loc[ids].reset_index()
        upd["content"] = [self.terms.content[d] + f" {marker}" for d in ids]
        upd_df = self.spark.createDataFrame(upd)
        lo, hi = (int(N_DOCS * f) for f in CHURN_DELETE_DF)
        cands = sorted(t for t, docs in self.terms.docs_of.items()
                       if lo <= len(docs) <= hi)
        term = cands[rng.randint(len(cands))]
        burst = {qid: self.queries[qid] for qid in
                 (ids_[rng.randint(len(ids_))]
                  for _, ids_ in sorted(queries_by_shape(self.queries).items()))}
        burst["marker"] = marker

        with self.op("cycle"):
            with self.tracer.span("delete.update"):
                update_documents(self.spark, str(index_dir), upd_df)
            with self.tracer.span("delete.by_term"):
                pre = delete_by_term(self.spark, str(index_dir), term)
            with self.tracer.span("merge.maintain"):
                snap = maintain(self.spark, str(index_dir),
                                segs_per_tier=NUM_SEGMENTS, max_merge_at_once=2)
            self.searcher = self.open(index_dir)
            with self.tracer.span("search.batch"):
                parsed = {qid: parse_query(t) for qid, t in burst.items()}
                rows = self.searcher.search_many(
                    parsed, k=CHURN_UPDATE_DOCS).collect()

        # the marker is no deleted term, so an updated doc is deleted
        # exactly when its old content held the term
        gone = self.terms.docs_of[term]
        merged = set(snap.seg_ids) - set(pre.seg_ids)
        rewritten = sum(dir_bytes(self.searcher.catalog.segment_dir(s))
                        for s in merged)
        # merge bytes per user byte ingested: the corpus plus the update
        self.add("merge.write_amp", rewritten / (
            self.content_bytes + text_bytes(upd["content"])))
        self.add("merge.bytes_rewritten", rewritten)
        self.add("merge.segments_in", len(set(pre.seg_ids) - set(snap.seg_ids)))
        self.add("merge.segments_out", len(merged))
        self.add("delete.tombstones",
                 sum(len(v) for v in self.searcher.deletes.values()))
        self.detail["churn"] = {
            "deleted_term": term, "deleted": len(gone),
            "segments": len(snap.seg_ids), "merge_bytes": rewritten}

        got: dict[str, list[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(int(r["doc_id"]))
        if sorted(got.get("marker", [])) != sorted(set(ids) - gone):
            return "updated docs are not returned with their new content"
        back = {d for docs in got.values() for d in docs} & gone
        if back:
            return f"deleted docs came back: {sorted(back)[:5]}"
        if any(len(docs) != len(set(docs)) for docs in got.values()):
            return "a doc id appears twice in one result"
        return ""

    # -- results ------------------------------------------------------------------
    def end_to_end(self) -> dict:
        return {
            "setup_s": {"value": _median(self.setup_cpu_s), "unit": "s"},
            "op_cpu_ms": {"value": _median(self.op_cpu_ms), "unit": "ms"},
            "build_s": {"value": _median(self.build_s), "unit": "s"},
            "index_bytes_per_input_byte": {"value": self.index_bytes_ratio,
                                           "unit": "ratio"},
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        out: dict[str, tuple[float, str]] = {}

        def spans(metric, span, unit="ms", op_name=None):
            """Median over operations of the span's summed self time."""
            scale = 1e-3 if unit == "s" else 1.0
            out[metric] = (_median(tr.self_ms_by_op(span, op_name)) * scale,
                           unit)

        def samples(metric, unit):
            out[metric] = (_median(self.samples.get(metric, [])), unit)

        out["setup.session_s"] = (self.detail["session_s"], "s")
        out["setup.corpus_s"] = (self.detail["corpus_s"], "s")
        out["setup.index_build_s"] = (self.detail["setup_build_s"], "s")
        spans("catalog.load_ms", "catalog.load")
        spans("plans.parse_ms", "plans.parse")
        spans("plans.rewrite_ms", "plans.rewrite")
        for layer in ("open", "resolve", "stats_probe", "compile", "job",
                      "batch"):
            spans(f"search.{layer}_ms", f"search.{layer}")
        counts = [c for name, c in self.jobs if name == OP_NAME[self.workload]]
        for field in ("jobs", "stages", "tasks"):
            out[f"spark.{field}_per_op"] = (
                _median([getattr(c, field) for c in counts]), "count")
        out["spark.failed_tasks"] = (sum(c.failed_tasks for _, c in self.jobs),
                                     "count")
        samples("spark.overhead_ms", "ms")
        for m in ("read_ms", "score_sum_ms", "score_max_ms"):
            samples(f"kernel.{m}", "ms")
        for m in ("segments", "postings_rows", "hits"):
            samples(f"kernel.{m}", "count")
        samples("build.invert_docs_per_s_1core", "1/s")
        samples("build.scaling_1to4", "ratio")
        # warm builds only: the set-up build is cold, a churn cycle's
        # commits also compute term stats
        spans("build.job_s", "build.index", "s", "build")
        spans("build.term_stats_s", "build.term_stats", "s", "build")
        segs = self.setup_segments
        out["build.terms"] = (sum(s["num_terms"] for s in segs), "count")
        out["build.postings"] = (sum(s["num_postings"] for s in segs), "count")
        out["build.bytes_compressed"] = (
            sum(s["bytes_compressed"] for s in segs), "bytes")
        spans("delete.update_ms", "delete.update")
        spans("delete.by_term_ms", "delete.by_term")
        samples("delete.tombstones", "count")
        # the cycle's maintain does exactly one merge
        spans("merge.per_merge_s", "merge.maintain", "s")
        samples("merge.segments_in", "count")
        samples("merge.segments_out", "count")
        samples("merge.bytes_rewritten", "bytes")
        samples("merge.write_amp", "ratio")
        base = _median(self._untraced_ms)
        out["wall.op_p50_ms"] = (base, "ms")
        out["trace.overhead_ratio"] = (
            (_median(self._traced_ms) - base) / base if base else 0.0, "ratio")
        return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}
