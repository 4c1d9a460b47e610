"""Measurement helpers for the benchmark: percentiles, spans, failures and
Spark job accounting. Nothing here imports Spark or the engine, so the
arithmetic is testable on its own (``python -m pytest perfbench``)."""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: A tail percentile is reported only with this many samples beyond it.
MIN_BEYOND = 10


def _rank(n: int, pct: float) -> int:
    # rounded first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """The ``pct``-th percentile by the nearest-rank rule."""
    if not sorted_values:
        raise ValueError("no samples")
    return sorted_values[_rank(len(sorted_values), pct) - 1]


def tail(values: list[float]) -> dict | None:
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``MIN_BEYOND`` samples beyond it, with the sample count; ``None`` when
    the sample is too small for any of them."""
    xs = sorted(values)
    n = len(xs)
    for pct in TAIL_LADDER:
        if n - _rank(n, pct) >= MIN_BEYOND:
            return {"pct": pct, "value": nearest_rank(xs, pct), "n": n}
    return None


def summary(values: list[float]) -> dict:
    """Median, tail and count of one metric's samples."""
    if not values:
        return {"n": 0}
    return {"n": len(values), "p50": statistics.median(values),
            "tail": tail(values)}


def steal_ticks(stat: str = "/proc/stat") -> tuple[int, int]:
    """(ticks stolen by the hypervisor, all ticks) over all CPUs so far."""
    with open(stat) as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPUs' time the hypervisor stole between two
    ``steal_ticks`` readings: a slow run on a busy host shows here."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def stolen_per_cpu_s(before: tuple[int, int], after: tuple[int, int],
                     ncpu: int | None = None) -> float:
    """Seconds the hypervisor stole from each CPU, on average, between two
    ``steal_ticks`` readings: for a block that kept every CPU busy, how
    long it waited for CPUs the machine did not get."""
    ncpu = ncpu or os.cpu_count() or 1
    return (after[0] - before[0]) / ncpu / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds (user and system, with those of reaped children) used so
    far by process ``root`` and its live descendants: for the benchmark,
    itself, the Spark JVM and the JVM's Python workers. Time the host
    steals from the machine is not in it."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as f:
                stat = f.read()
        except OSError:          # ended while the table was read
            continue
        # the command name in parentheses may hold spaces
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p != root and p in parent:
            p = parent[p]
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    span_id: int
    parent: int | None
    op: str | None
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing and
    costs one generator step, so untimed and timed code share one path."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: str | None = None
        self.op_names: dict[str, str] = {}

    @contextmanager
    def op(self, op_id: str, name: str):
        """Top-level span of one benchmark operation; spans opened inside
        it share ``op_id``."""
        prev, self._op = self._op, op_id
        self.op_names[op_id] = name
        try:
            with self.span(name):
                yield
        finally:
            self._op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), parent, self._op, name, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = self.clock()
            self._stack.pop()

    def in_span(self, name: str) -> bool:
        return any(s.name == name for s in self._stack)

    def self_ms_by_op(self, name: str, op_name: str | None = None) \
            -> list[float]:
        """Per operation (of those called ``op_name``, if given), the
        summed self time (ms) of spans called ``name``; operations without
        such a span, and spans recorded outside any operation, are left
        out."""
        st = self_times(self.spans)
        per_op: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.op is not None \
                    and op_name in (None, self.op_names[s.op]):
                per_op[s.op] = per_op.get(s.op, 0.0) + st[s.span_id] * 1e3
        return list(per_op.values())

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [{"id": s.span_id, "parent": s.parent, "op": s.op,
                 "name": s.name, "start": s.start, "end": s.end,
                 "self_ms": st[s.span_id] * 1e3} for s in self.spans]


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it raises
    or when its output check does not hold."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(why)
        return ok

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def count_jobs(tracker, group: str, timeout_s: float = 5.0) -> JobCounts:
    """Jobs, stages and tasks Spark ran for one job group, read from the
    status tracker. Listener events arrive asynchronously, so wait (up to
    ``timeout_s``) until every job of the group has finished."""
    deadline = time.monotonic() + timeout_s
    while True:
        ids = list(tracker.getJobIdsForGroup(group))
        jobs = [tracker.getJobInfo(j) for j in ids]
        if all(j is not None and str(j.status) != "RUNNING" for j in jobs) \
                or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    out = JobCounts(jobs=len(ids))
    for j in jobs:
        if j is None:
            continue
        for sid in j.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            out.stages += 1
            out.tasks += st.numCompletedTasks
            out.failed_tasks += st.numFailedTasks
    return out
