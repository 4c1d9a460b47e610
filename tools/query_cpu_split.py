"""CPU ms of a warm top-10 query, split by process: the driver (this
Python process), the Spark JVM and the JVM's Python workers.

Builds a seeded ``generate_corpus`` index in a temporary directory (by
default 5k docs in 16 segments at ``local[4]``, the shape perfbench's
``search_interactive`` workload searches), warms the workers with
``--warm`` queries, then runs ``--queries`` top-10 searches that cycle
through the query mix. Before and after the timed queries it reads
``/proc/<pid>/stat`` (user and system ticks, with those of reaped
children) of every process under this one, and classes each process by
its place in the tree: this process is the driver, a ``java`` process the
JVM, and every process under the JVM (the PySpark daemon and the workers
it forks) a Python worker. Ticks are 10 ms, so take enough queries for the
per-query figures to resolve.

Usage: python tools/query_cpu_split.py [--docs N] [--segments S]
    [--cores C] [--queries Q] [--warm W] [--query TEXT ...]

Prints one JSON line: CPU ms per query for each class and in total, the
median wall ms, the Python workers' resident MB after the timed queries,
and the count of processes in each class.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MIX = ["if OR return", "parse AND emit", "\"return if\"", "token",
       "flush OR scan OR codec", "pars*"]


def process_ticks(proc: str = "/proc") -> dict[int, tuple[int, str, int]]:
    """pid → (parent pid, command name, user + system ticks with reaped
    children) of every live process."""
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                stat = f.read()
        except OSError:          # ended while the table was read
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), comm,
                          sum(int(x) for x in fields[11:15]))
    return out


def classify(procs: dict[int, tuple[int, str, int]], root: int) \
        -> dict[int, str]:
    """pid → ``driver``, ``jvm``, ``python_workers`` or ``other`` for
    ``root`` and every live descendant of it."""
    classes = {}
    for pid in procs:
        chain, p = [], pid
        while p in procs and p != root:
            chain.append(p)
            p = procs[p][0]
        if p != root:
            continue
        if pid == root:
            classes[pid] = "driver"
        elif procs[pid][1] == "java":
            classes[pid] = "jvm"
        elif any(procs[a][1] == "java" for a in chain[1:]):
            classes[pid] = "python_workers"
        else:
            classes[pid] = "other"
    return classes


def split_ms(before, after, classes: dict[int, str]) \
        -> tuple[dict[str, float], dict[str, int]]:
    """CPU ms per class between two ``process_ticks`` readings, and the
    count of processes in each class; ``classes`` classes the second
    reading's processes."""
    tick_ms = 1e3 / os.sysconf("SC_CLK_TCK")
    ms: dict[str, float] = {"driver": 0.0, "jvm": 0.0,
                            "python_workers": 0.0, "other": 0.0}
    count: dict[str, int] = dict.fromkeys(ms, 0)
    for pid, cls in classes.items():
        was = before.get(pid)
        start = was[2] if was and was[1] == after[pid][1] else 0
        ms[cls] += (after[pid][2] - start) * tick_ms
        count[cls] += 1
    return ms, count


def rss_mb(pids, proc: str = "/proc") -> float:
    """Resident MB of the live processes ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(os.path.join(proc, str(pid), "statm")) as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=5000)
    ap.add_argument("--segments", type=int, default=16)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--queries", type=int, default=100)
    ap.add_argument("--warm", type=int, default=24)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--query", action="append", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from lucene_spark.operators.build import build_index
    from lucene_spark.operators.search import Searcher
    from lucene_spark.plans.parser import parse
    from lucene_spark.sources.corpus import generate_corpus

    spark = (SparkSession.builder.master(f"local[{args.cores}]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", str(args.cores))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    mix = [parse(q) for q in (args.query or MIX)]
    try:
        with tempfile.TemporaryDirectory(prefix="query_cpu_split_") as d:
            corpus = generate_corpus(args.docs, seed=args.seed)
            build_index(spark, spark.createDataFrame(corpus), d,
                        num_segments=args.segments)
            searcher = Searcher(spark, d)
            for i in range(args.warm):
                searcher.search(mix[i % len(mix)], k=10).collect()
            walls = []
            before = process_ticks()
            for i in range(args.queries):
                t0 = time.perf_counter()
                searcher.search(mix[i % len(mix)], k=10).collect()
                walls.append((time.perf_counter() - t0) * 1e3)
            after = process_ticks()
            classes = classify(after, os.getpid())
            workers_mb = rss_mb(p for p, c in classes.items()
                                if c == "python_workers")
    finally:
        spark.stop()
    ms, count = split_ms(before, after, classes)
    per_query = {k: round(v / args.queries, 2) for k, v in ms.items()}
    out = {"docs": args.docs, "segments": args.segments,
           "cores": args.cores, "queries": args.queries,
           "cpu_ms_per_query": per_query,
           "cpu_ms_per_query_total": round(sum(ms.values()) / args.queries,
                                           2),
           "wall_ms_median": round(statistics.median(walls), 2),
           "python_workers_rss_mb": round(workers_mb, 1),
           "processes": count}
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
