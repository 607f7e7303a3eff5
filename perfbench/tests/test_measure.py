"""Interval arithmetic, percentiles and spans."""

import os
import time

import pytest

from measure import Tracer, _cpu_s, pct, tree_cpu_s, union_length, uncovered


def test_union_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(1, 3), (0, 2), (2.5, 4)]) == 4.0
    assert union_length([(0, 5), (1, 2), (3, 4)]) == 5.0  # nested
    assert union_length([(0, 1), (1, 2)]) == 2.0  # touching
    assert union_length([(2, 1)]) == 0.0  # empty interval


def test_uncovered_clips_to_the_window():
    # tasks cover [1, 3] and [4, 6] of the window [0, 5]: 0-1 and 3-4 uncovered
    assert uncovered((0, 5), [(1, 3), (4, 6)]) == pytest.approx(2.0)
    assert uncovered((0, 5), []) == 5.0
    assert uncovered((0, 5), [(-1, 10)]) == 0.0
    assert uncovered((0, 5), [(6, 7)]) == 5.0


def test_pct_is_nearest_rank():
    vals = list(range(1, 101))
    assert pct(vals, 50) == 50
    assert pct(vals, 99) == 99
    assert pct(vals, 100) == 100
    assert pct([7.0], 99) == 7.0
    assert pct([], 50) == 0.0


def test_spans_nest_and_skip_recursion():
    tr = Tracer(True)
    with tr.span("a"):
        with tr.span("b"):
            with tr.span("a"):
                pass
    outer, inner = tr.spans[0], tr.spans[2]
    assert tr.spans[1]["parent"] == outer["id"] and inner["parent"] == tr.spans[1]["id"]
    assert {s["trace_id"] for s in tr.spans} == {tr.trace_id}
    assert len(tr.durations("a")) == 1  # the nested "a" is inside the outer one
    assert len(tr.durations("b")) == 1


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("a"):
        pass
    assert tr.spans == [] and tr.durations("a") == []


def test_cpu_s_reads_names_with_spaces_and_parentheses(tmp_path):
    stat = tmp_path / "stat"
    # pid (comm) state ppid ... utime (14th field) stime (15th field)
    stat.write_text("42 (C2 (x) Thre) S 1 " + " ".join(["0"] * 9) + " 250 50 0 0\n")
    tick = os.sysconf("SC_CLK_TCK")
    assert _cpu_s(str(stat)) == ("C2 (x) Thre", pytest.approx(300 / tick))


def test_tree_cpu_s_counts_this_process():
    before = tree_cpu_s(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    assert tree_cpu_s(os.getpid()) - before >= 0.1
