"""Layered benchmark of lucene_spark: bulk build and interactive search on
one ``local[4]`` Spark driver, with a single-writer churn cycle in traced
runs.

Run from the repository root:

    python3 perfbench/run.py --workload search_interactive --seed 1 \\
        --seconds 10 --trace 0

Prints one JSON line with the run's provenance and workload detail (wall
and CPU times of every operation, wall median and tail, the share of CPU
time the hypervisor stole during the run), then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``.

End-to-end metrics: ``setup_s``, the median CPU seconds of opening a
``Searcher`` and answering its first query; ``op_cpu_ms``, the median CPU
milliseconds of the workload's operation (a build, or a top-10 query);
``build_s``, the median wall seconds of a warm ``build_index`` of the
corpus less the time the hypervisor stole from each CPU meanwhile (the only
bounded wall time: CPU time cannot see lost parallelism);
``index_bytes_per_input_byte``, the built index's size over the corpus
text's. Everything it writes goes under ``.perfbench-work/`` in the
repository; a traced run leaves its spans there as JSON.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("ingest", "search_interactive")


def package_digest() -> str:
    """sha256 over the engine's Python sources: identifies the code measured
    where no git metadata is available."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "lucene_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True, timeout=30)
    return r.stdout.strip() or None


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def provenance(bench) -> dict:
    conf = bench.spark_conf()
    conf.update({"master": "local[4]", "spark.sql.shuffle.partitions": "4"})
    return {"nproc": os.cpu_count(), "cpu": cpu_model(), "git_sha": git_sha(),
            "package_sha256": package_digest(), "python": sys.version.split()[0],
            "spark_conf": conf, "tmp": str(bench.work)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import lucene_spark  # noqa: F401 — fail before any work without the engine

    from measure import steal_share, steal_ticks, summary
    from workloads import Bench

    base = ROOT / ".perfbench-work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Spark, its Python workers and the package zip all honour these; a
    # SPARK_LOCAL_DIRS from the caller would override spark.local.dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the JVM spark-submit runs to build the driver's command line would
    # write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData")))
    tempfile.tempdir = str(work / "tmp")
    # whatever the caller's environment: Spark binds to the loopback only
    # (it would otherwise pick an interface by the host name, which a
    # machine without a network may lack), and its Python workers run
    # this interpreter
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_HOSTNAME"] = "localhost"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    steal_before = steal_ticks()
    try:
        bench.setup()
        getattr(bench, f"run_{args.workload}")()
        if args.trace:
            bench.traced_extras()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        (base / f"{args.workload}-{args.seed}-spans.json").write_text(
            json.dumps(bench.tracer.dump()))

    t = bench.tally
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "provenance": provenance(bench), "latency_ms": summary(bench.op_ms),
        "cpu_ms": summary(bench.op_cpu_ms), "op_ms": bench.op_ms,
        "op_cpu_ms": bench.op_cpu_ms, "op_what": bench.op_what,
        "build_s": bench.build_s,
        "failed_op_ratio": t.failed_ratio, "errors": t.errors,
        "host_steal_share": steal_share(steal_before, steal_ticks()),
        "detail": bench.detail}, default=str))
    print(json.dumps({"correct": t.failed == 0, "attempted": t.attempted,
                      "failed": t.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
