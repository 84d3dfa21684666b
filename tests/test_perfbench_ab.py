"""tools/perfbench_ab.py's verdict rule (pure Python, no Spark)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "perfbench_ab", Path(__file__).resolve().parent.parent / "tools" / "perfbench_ab.py"
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

PARENT = [100.0, 102.0, 98.0, 101.0, 99.0, 100.0, 103.0, 97.0, 100.0, 101.0]


def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_parent_iqr():
    r = ab.verdict(PARENT, [p - 10 for p in PARENT], "lower", 0.25, 10)
    assert r["verdict"] == "gain" and r["wins"] == 10
    # 8/10 wins is not a gain even with a large median gap
    eight = [p - 10 for p in PARENT[:8]] + [p + 1 for p in PARENT[8:]]
    assert ab.verdict(PARENT, eight, "lower", 0.25, 10)["verdict"] == "within bound"
    # 10/10 wins but a gap inside the parent's IQR is not a gain
    assert ab.verdict(PARENT, [p - 0.5 for p in PARENT], "lower", 0.25, 10)["verdict"] == "within bound"


def test_higher_is_better_metrics_flip_the_comparison():
    assert ab.verdict(PARENT, [p + 10 for p in PARENT], "higher", 0.25, 10)["verdict"] == "gain"
    assert ab.verdict(PARENT, [p * 0.7 for p in PARENT], "higher", 0.25, 10)["verdict"] == "worse"


def test_worse_beyond_bound_and_unresolved_when_spread_exceeds_it():
    assert ab.verdict(PARENT, [p * 1.3 for p in PARENT], "lower", 0.25, 10)["verdict"] == "worse"
    noisy = [60.0, 140.0, 70.0, 130.0, 80.0, 120.0, 100.0, 100.0, 65.0, 135.0]
    assert ab.verdict(PARENT, noisy, "lower", 0.25, 10)["verdict"] == "unresolved"


def test_gain_counts_wins_against_every_pair_run_and_refuses_more_failures():
    better = [p - 10 for p in PARENT]
    # 9 complete pairs, all won, out of 10 run: 9/10 is still a gain ...
    assert ab.verdict(PARENT[:9], better[:9], "lower", 0.25, 10)["verdict"] == "gain"
    # ... but 8 won out of 10 run (two pairs missing the metric) is not
    r = ab.verdict(PARENT[:8], better[:8], "lower", 0.25, 10)
    assert r["verdict"] != "gain" and (r["wins"], r["pairs"]) == (8, 10)
    # a change side that fails more than the parent gets no gain
    assert ab.verdict(PARENT, better, "lower", 0.25, 10, more_failures=True)["verdict"] == "within bound"


def test_failures_count_crashed_runs_as_incorrect():
    runs = [
        {"correct": True, "failed": 0},
        {"correct": False, "failed": 3},
        {"correct": False, "failed": None},  # crashed: no result line
    ]
    assert ab.failures(runs) == (2, 3)
