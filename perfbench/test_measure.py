"""Tests of the benchmark's measurement helpers. Run from the repository
root: ``python -m pytest perfbench``."""

import os

import pytest

from measure import (JobCounts, Span, Tally, Tracer, count_jobs, nearest_rank,
                     self_times, steal_share, steal_ticks, stolen_per_cpu_s,
                     tail, tree_cpu_s)


# -- the percentile rule -------------------------------------------------------

def test_nearest_rank():
    xs = list(range(1, 101))
    assert nearest_rank(xs, 50) == 50
    assert nearest_rank(xs, 90) == 90
    assert nearest_rank(xs, 99.9) == 100
    assert nearest_rank([7.0], 50) == 7.0
    with pytest.raises(ValueError):
        nearest_rank([], 50)


@pytest.mark.parametrize("n, pct", [
    (19, None),      # p50 would leave 9 beyond it
    (20, 50.0),
    (40, 75.0),
    (99, 75.0),      # p90 is rank 90: 9 beyond
    (100, 90.0),
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_takes_highest_percentile_with_ten_beyond(n, pct):
    t = tail([float(x) for x in range(n, 0, -1)])   # unsorted input
    if pct is None:
        assert t is None
        return
    assert t["pct"] == pct and t["n"] == n
    assert t["value"] == nearest_rank(list(range(1, n + 1)), pct)
    assert n - t["value"] >= 10


# -- span self-time arithmetic ----------------------------------------------------

def _spans(*rows):
    return [Span(i, parent, "op", name, a, b)
            for i, (name, parent, a, b) in enumerate(rows)]


def test_self_time_subtracts_children():
    spans = _spans(("op", None, 0.0, 10.0),
                   ("a", 0, 1.0, 3.0),
                   ("b", 0, 4.0, 8.0),
                   ("b.inner", 2, 5.0, 6.0))
    st = self_times(spans)
    assert st == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0}
    assert sum(st.values()) == spans[0].duration


def test_self_time_counts_overlapping_children_once():
    spans = _spans(("op", None, 0.0, 10.0),
                   ("a", 0, 1.0, 5.0),
                   ("b", 0, 3.0, 7.0),      # overlaps a by 2
                   ("c", 0, 9.0, 12.0))     # runs past the parent's end
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_records_nesting_and_sums_self_time_per_op():
    ticks = iter(range(100))
    tr = Tracer(True, clock=lambda: float(next(ticks)))
    for op in ("q1", "q2"):
        with tr.op(op, "query"):
            with tr.span("search.job"):
                with tr.span("search.compile"):
                    pass
    by_name = {s.name for s in tr.spans}
    assert by_name == {"query", "search.job", "search.compile"}
    assert all(s.op in ("q1", "q2") for s in tr.spans)
    # each job span lasts 3 ticks, 1 of them inside its compile child
    assert tr.self_ms_by_op("search.job") == [2000.0, 2000.0]
    assert tr.self_ms_by_op("search.compile") == [1000.0, 1000.0]


def test_self_time_per_op_can_be_limited_to_one_kind_of_op():
    ticks = iter(range(100))
    tr = Tracer(True, clock=lambda: float(next(ticks)))
    with tr.op("setup-1", "setup-build"):
        with tr.span("build.index"):          # 1 tick
            pass
    with tr.op("build-2", "build"):
        with tr.span("build.index"):
            with tr.span("build.term_stats"):  # 1 of its 3 ticks
                pass
    assert tr.self_ms_by_op("build.index") == [1000.0, 2000.0]
    assert tr.self_ms_by_op("build.index", "build") == [2000.0]
    assert tr.self_ms_by_op("build.index", "query") == []


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.op("q", "query"):
        with tr.span("search.job"):
            pass
    assert tr.spans == [] and tr.self_ms_by_op("search.job") == []


def test_spans_outside_an_op_are_not_attributed():
    tr = Tracer(True)
    with tr.span("catalog.load"):
        pass
    assert len(tr.spans) == 1 and tr.self_ms_by_op("catalog.load") == []


# -- failure accounting -------------------------------------------------------------

def test_tally_counts_attempts_and_failures():
    t = Tally()
    assert t.failed_ratio == 0.0
    assert t.record(True) and not t.record(False, "top-10 differs")
    t.record(True)
    t.record(False, "raised")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_ratio == 0.5
    assert t.errors == ["top-10 differs", "raised"]


def test_tally_keeps_a_bounded_error_list():
    t = Tally()
    for i in range(50):
        t.record(False, str(i))
    assert t.failed == 50 and len(t.errors) == 20


class _Info:
    def __init__(self, **kw):
        self.__dict__.update(kw)


class _Tracker:
    """Status tracker stand-in: job 2 still runs on the first poll."""

    def __init__(self):
        self.polls = 0

    def getJobIdsForGroup(self, group):
        self.polls += 1
        return [1, 2] if group == "g" else []

    def getJobInfo(self, jid):
        status = "RUNNING" if jid == 2 and self.polls < 2 else "SUCCEEDED"
        return _Info(status=status, stageIds=[10, 11] if jid == 1 else [12])

    def getStageInfo(self, sid):
        return {10: _Info(numCompletedTasks=4, numFailedTasks=0),
                11: _Info(numCompletedTasks=0, numFailedTasks=0),   # skipped
                12: _Info(numCompletedTasks=3, numFailedTasks=1)}[sid]


def test_count_jobs_waits_for_running_jobs_and_skips_reused_stages():
    tracker = _Tracker()
    assert count_jobs(tracker, "g") == JobCounts(jobs=2, stages=2, tasks=7,
                                                 failed_tasks=1)
    assert tracker.polls == 2
    assert count_jobs(_Tracker(), "other") == JobCounts()


# -- CPU time of the process tree ----------------------------------------------------

def test_tree_cpu_sums_the_root_and_its_descendants_only(tmp_path):
    # pid, ppid, command name, utime, stime, cutime, cstime (clock ticks)
    rows = [(10, 1, "python3", 100, 20, 0, 0),               # the root
            (11, 10, "java", 300, 50, 0, 0),
            (12, 11, "py (daemon) x", 10, 5, 40, 10),        # reaped children
            (13, 12, "worker", 7, 3, 0, 0),
            (20, 1, "other", 999, 999, 0, 0)]                # not ours
    for pid, ppid, comm, *t in rows:
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(
            f"{pid} ({comm}) S {ppid} 0 0 0 0 0 0 0 0 0 "
            + " ".join(map(str, t)) + " 20 0 1 0\n")
    (tmp_path / "self").mkdir()      # not a pid
    (tmp_path / "99").mkdir()        # ended before its stat was read
    want = (120 + 350 + 65 + 10) / os.sysconf("SC_CLK_TCK")
    assert tree_cpu_s(10, str(tmp_path)) == pytest.approx(want)
    assert tree_cpu_s(12, str(tmp_path)) == pytest.approx(
        (65 + 10) / os.sysconf("SC_CLK_TCK"))


def test_tree_cpu_of_this_process_grows_with_work():
    before = tree_cpu_s(os.getpid())
    sum(i * i for i in range(3_000_000))
    assert tree_cpu_s(os.getpid()) > before


def test_steal_share_between_two_readings(tmp_path):
    stat = tmp_path / "stat"
    # user nice system idle iowait irq softirq steal guest guest_nice
    stat.write_text("cpu  100 0 20 800 10 0 5 15 0 0\ncpu0 1 2 3\n")
    before = steal_ticks(str(stat))
    assert before == (15, 950)
    stat.write_text("cpu  160 0 30 1060 10 0 5 65 0 0\n")
    assert steal_share(before, steal_ticks(str(stat))) == pytest.approx(
        50 / 380)
    assert steal_share(before, before) == 0.0
    # 50 ticks stolen over 2 CPUs: 25 ticks from each
    assert stolen_per_cpu_s(before, steal_ticks(str(stat)), ncpu=2) == \
        pytest.approx(25 / os.sysconf("SC_CLK_TCK"))
