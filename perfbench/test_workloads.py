"""Tests of the benchmark's query stream and timed window. Run from the
repository root: ``python -m pytest perfbench``."""

import itertools
from collections import Counter
from pathlib import Path

import numpy as np

from workloads import (Bench, fold_seed, query_stream, queries_by_shape,
                       shape_cycle)

COUNTS = {"and": 20, "or": 15, "phrase": 5, "prefix": 4, "sloppy": 5,
          "term": 16}


def _queries():
    qs = {f"{shape}_{i:02d}": f"q{shape}{i}"
          for shape, n in COUNTS.items() for i in range(n)}
    qs["term_99"] = "zz_absent_99"
    return qs


def test_shape_cycle_keeps_the_counts_and_spreads_them():
    cycle = shape_cycle(COUNTS)
    assert Counter(cycle) == COUNTS
    # no shape waits much longer than its share says between two turns,
    # and the first dozen queries already hold every shape
    for shape, n in COUNTS.items():
        at = [i for i, s in enumerate(cycle + cycle) if s == shape]
        gaps = [b - a for a, b in zip(at, at[1:])]
        assert max(gaps) <= len(cycle) / n + 3
    assert set(cycle[:12]) == set(COUNTS)


def test_stream_follows_the_query_set_and_is_seeded():
    qs = _queries()
    ids = list(itertools.islice(query_stream(qs, 7), 65 * 4))
    assert "term_99" not in ids                   # absent terms are left out
    shapes = Counter(qid.rsplit("_", 1)[0] for qid in ids)
    assert shapes == {s: 4 * n for s, n in COUNTS.items()}
    assert ids == list(itertools.islice(query_stream(qs, 7), 65 * 4))
    assert ids != list(itertools.islice(query_stream(qs, 8), 65 * 4))


def test_covering_stream_starts_with_every_shape():
    qs = _queries()
    first = list(itertools.islice(query_stream(qs, 7, cover=True), 6))
    assert {qid.rsplit("_", 1)[0] for qid in first} == set(COUNTS)
    assert set(queries_by_shape(qs)) == set(COUNTS)


def _bench(trace):
    return Bench("search_interactive", 1, 0.0, trace, Path("."))


def test_untraced_window_runs_each_operation_once():
    assert list(_bench(False).window()) == [(0, (False,))]


def test_traced_window_runs_each_operation_both_ways_in_turn():
    assert list(_bench(True).window(min_ops=3)) == [
        (0, (True, False)), (1, (False, True)), (2, (True, False))]


def test_any_integer_seed_folds_into_the_generators_range():
    assert fold_seed(7) == 7
    for seed in (-1, 2**32 - 1, 2**32, 123456789012, -2**63):
        folded = fold_seed(seed)
        assert 0 <= folded and folded + 3 < 2**32
        np.random.RandomState(folded + 3)           # does not raise
    assert Bench("ingest", -1, 0.0, False, Path(".")).seed == fold_seed(-1)
