"""tools/ab.py's verdict on synthetic pairs of benchmark results (no
Spark, no benchmark run)."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import ab  # noqa: E402

METRICS = [
    {"name": "main_p50_s", "better": "lower", "bound": 0.25},
    {"name": "throughput_per_s", "better": "higher", "bound": 0.25},
    {"name": "retained_mb", "better": "lower", "bound": 0.1},
]


def _result(main, tput, mb, correct=True, failed=0):
    return {"correct": correct, "attempted": 10, "failed": failed,
            "metrics": {"main_p50_s": {"value": main},
                        "throughput_per_s": {"value": tput},
                        "retained_mb": {"value": mb}}}


def _pairs(parent, change):
    return [{"workload": "w", "seed": i, "parent": p, "change": c}
            for i, (p, c) in enumerate(zip(parent, change))]


def test_within_bound_is_not_flagged_and_wins_are_counted():
    parent = [_result(1.0 + i / 100, 100.0, 500.0) for i in range(10)]
    change = [_result(1.1 + i / 100, 101.0, 505.0) for i in range(10)]
    v = ab.verdict(METRICS, _pairs(parent, change))
    assert v["main_p50_s"]["wins"] == 0
    assert v["main_p50_s"]["parent"]["median"] == 1.045
    assert abs(v["main_p50_s"]["worse_share"] - 0.1 / 1.045) < 1e-12
    assert not v["main_p50_s"]["beyond_bound"]
    # higher is better: every change run wins, and it is not "worse"
    assert v["throughput_per_s"]["wins"] == 10
    assert v["throughput_per_s"]["worse_share"] < 0
    assert not v["retained_mb"]["beyond_bound"]  # +1 % < 10 %
    assert ab.failures(_pairs(parent, change)) == []


def test_worse_beyond_bound_in_either_direction_is_flagged():
    parent = [_result(1.0, 100.0, 500.0) for _ in range(10)]
    change = [_result(1.3, 70.0, 560.0) for _ in range(10)]
    v = ab.verdict(METRICS, _pairs(parent, change))
    assert v["main_p50_s"]["beyond_bound"]        # 30 % slower
    assert v["throughput_per_s"]["beyond_bound"]  # 30 % fewer per s
    assert v["retained_mb"]["beyond_bound"]       # 12 % more memory
    assert all(x["pairs"] == 10 and x["wins"] == 0 for x in v.values())


def test_gain_needs_nine_in_ten_wins_and_a_gap_past_the_spread():
    parent = [_result(1.0 + i / 100, 100.0 + i, 500.0) for i in range(10)]
    # main: pairs 0-8 are 0.2 s faster, past the parent's q3 - q1
    # (0.055 s); pair 9 is a tie, which counts for neither side
    change = [_result((0.8 if i < 9 else 1.0) + i / 100, 100.0 + i,
                      500.0 - i) for i in range(10)]
    v = ab.verdict(METRICS, _pairs(parent, change))
    assert v["main_p50_s"]["wins"] == 9 and v["main_p50_s"]["gain"]
    # throughput: every pair a tie, so no wins and no gain
    assert v["throughput_per_s"]["wins"] == 0
    assert not v["throughput_per_s"]["gain"]
    # memory: pair 0 ties and the other 9 win; the parent's spread is 0,
    # so the 4.5 MB median gap is a gain
    assert v["retained_mb"]["wins"] == 9 and v["retained_mb"]["gain"]
    # one lost pair more (8 of 10 wins) is no gain, however large the gap
    change[0] = _result(1.5, 100.0, 500.0)
    v = ab.verdict(METRICS, _pairs(parent, change))
    assert v["main_p50_s"]["wins"] == 8 and not v["main_p50_s"]["gain"]


def test_gain_needs_a_gap_past_the_parents_spread():
    # 10 of 10 wins by 0.01 s, inside the parent's q3 - q1 of 0.55 s
    parent = [_result(1.0 + i / 10, 100.0, 500.0) for i in range(10)]
    change = [_result(0.99 + i / 10, 100.0, 500.0) for i in range(10)]
    v = ab.verdict(METRICS, _pairs(parent, change))
    assert v["main_p50_s"]["wins"] == 10
    assert not v["main_p50_s"]["gain"]


def test_failed_runs_are_reported_and_skipped():
    parent = [_result(1.0, 100.0, 500.0), _result(1.0, 100.0, 500.0),
              _result(1.0, 100.0, 500.0)]
    change = [None, _result(1.0, 100.0, 500.0, correct=False),
              _result(1.0, 100.0, 500.0, failed=2)]
    pairs = _pairs(parent, change)
    assert ab.failures(pairs) == [
        "w seed 0 change: no result",
        "w seed 1 change: correct=False failed=0",
        "w seed 2 change: correct=True failed=2"]
    assert ab.verdict(METRICS, pairs)["main_p50_s"]["pairs"] == 2
    assert ab.verdict(METRICS, pairs[:1]) == {}


def test_layer_diff_lists_counts_that_differ():
    per_layer = [{"name": "merge.count", "unit": "count"},
                 {"name": "merge.jobs", "unit": "jobs/op"},
                 {"name": "flush.count", "unit": "count"},
                 {"name": "merge.busy_s", "unit": "s"}]

    def traced(merges, jobs, flushes, busy):
        return {"correct": True, "attempted": 10, "failed": 0, "metrics": {
            "merge.count": {"value": merges}, "merge.jobs": {"value": jobs},
            "flush.count": {"value": flushes},
            "merge.busy_s": {"value": busy}}}

    d = ab.layer_diff(per_layer, {"parent": traced(10, 1.0, 22, 2.9),
                                  "change": traced(5, 1.0, 22, 1.6)})
    assert d["metrics"]["merge.count"] == {"parent": 10, "change": 5}
    assert d["metrics"]["merge.busy_s"] == {"parent": 2.9, "change": 1.6}
    # a time that moved is not listed: only counts and jobs per op
    assert d["differ"] == ["merge.count"]
    d = ab.layer_diff(per_layer, {"parent": traced(10, 1.0, 22, 2.9),
                                  "change": None})
    assert d["metrics"]["flush.count"] == {"parent": 22, "change": None}
    assert d["differ"] == ["merge.count", "merge.jobs", "flush.count"]
