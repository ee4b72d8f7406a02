"""The benchmark's arithmetic, checked without a Spark session:
``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import math

import pytest

from perfbench import arith


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert arith.percentile(values, 50) == 50
    assert arith.percentile(values, 99) == 99
    assert arith.percentile(values, 100) == 100
    assert arith.percentile([7.0], 99) == 7.0
    # 19 samples: p50 is the 10th smallest, p99 the largest
    nineteen = [float(i) for i in range(19, 0, -1)]
    assert arith.percentile(nineteen, 50) == 10.0
    assert arith.percentile(nineteen, 99) == 19.0


def test_percentile_counts_undelivered_items_above_any_limit():
    values = [0.1] * 98 + [math.inf] * 2
    assert arith.percentile(values, 98) == 0.1
    assert arith.percentile(values, 99) == math.inf


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        arith.percentile([], 50)
    with pytest.raises(ValueError):
        arith.percentile([1.0], 0)


def test_covered_and_self_time():
    children = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    # union of children inside [0, 10]: [1,4] + [6,7] + [9,10] = 5
    assert arith.covered(children, [(0.0, 10.0)]) == pytest.approx(5.0)
    assert arith.self_time((0.0, 10.0), children) == pytest.approx(5.0)
    assert arith.self_time((0.0, 2.0), []) == 2.0
    # coverage inside several windows at once
    assert arith.covered([(0.0, 10.0)], [(1.0, 2.0), (5.0, 8.0)]) == pytest.approx(4.0)


def test_max_overlap_of_spans():
    assert arith.max_overlap([]) == 0
    assert arith.max_overlap([(0, 1), (2, 3)]) == 1
    assert arith.max_overlap([(0, 4), (1, 2), (1.5, 3), (3.5, 5)]) == 3
    # touching spans do not overlap
    assert arith.max_overlap([(0, 1), (1, 2), (2, 3)]) == 1


def test_phase_layout_follows_micro_batch_order():
    dur = {"triggerExecution": 1000, "addBatch": 500, "latestOffset": 100,
           "getBatch": 50, "queryPlanning": 150, "walCommit": 80, "commitOffsets": 70}
    spans = arith.phase_layout(100.0, dur)
    assert [s[0] for s in spans] == ["latestOffset", "walCommit", "getBatch",
                                     "queryPlanning", "addBatch", "commitOffsets", "other"]
    assert spans[0][1] == 100.0
    for (_, _, end), (_, start, _) in zip(spans, spans[1:]):
        assert start == pytest.approx(end)  # phases abut
    add = dict((n, (s, e)) for n, s, e in spans)["addBatch"]
    assert add == pytest.approx((100.0 + 0.38, 100.0 + 0.88))
    assert spans[-1][2] == pytest.approx(101.0)  # ends with the trigger


def test_phase_layout_skips_absent_phases():
    spans = arith.phase_layout(0.0, {"triggerExecution": 3, "latestOffset": 3})
    assert spans == [("latestOffset", 0.0, 0.003)]


def test_trigger_wait():
    assert arith.trigger_wait(8.5, [1000, 1500, 0]) == pytest.approx(6.0)
    assert arith.trigger_wait(2.0, []) == 2.0


def test_tracer_sums_self_time_per_span_name():
    from perfbench.trace import Tracer

    tracer = Tracer()
    run = tracer.add("run", 0.0, 10.0, "t")
    batch = tracer.add("batch", 1.0, 5.0, "t", run)
    tracer.add("sink", 2.0, 3.0, "t", batch)
    tracer.add("sink", 2.5, 6.0, "t", batch)  # runs past its batch
    assert tracer.self_times() == pytest.approx({"run": 6.0, "batch": 1.0, "sink": 4.5})
