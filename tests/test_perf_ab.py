"""tools/perf_ab.py without Spark: a fake runner pins the run order
(one seed per pair, the first side alternating) and the summary
arithmetic (medians, quartiles, change in median, pairs won), and the
tool's verdict on failed runs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
import perf_ab  # noqa: E402

METRICS = [{"name": "p50_ms", "better": "lower"}, {"name": "ops_per_s", "better": "higher"}]


def _line(p50, ops, failed=0):
    return {"correct": failed == 0, "attempted": 10, "failed": failed,
            "metrics": {"p50_ms": {"value": p50, "unit": "ms"},
                        "ops_per_s": {"value": ops, "unit": "1/s"}}}


def test_run_order_alternates_first_side_with_one_seed_per_pair():
    assert perf_ab.run_order(3, 100) == [
        (0, "old", 100), (0, "new", 100),
        (1, "new", 101), (1, "old", 101),
        (2, "old", 102), (2, "new", 102),
    ]


def test_run_pairs_calls_the_runner_in_run_order():
    calls = []

    def runner(side, seed):
        calls.append((side, seed))
        return 0, _line(1.0, 1.0)

    runs = perf_ab.run_pairs(runner, 2, 7)
    assert calls == [("old", 7), ("new", 7), ("new", 8), ("old", 8)]
    assert [(r["pair"], r["side"]) for r in runs] == [
        (0, "old"), (0, "new"), (1, "new"), (1, "old")
    ]


def test_summary_arithmetic():
    old = {0: (100, 2.0), 1: (110, 1.9), 2: (120, 2.1), 3: (130, 1.8), 4: (140, 2.0)}
    new = {0: (90, 2.2), 1: (100, 2.3), 2: (120, 2.4), 3: (120, 1.7), 4: (130, 2.5)}
    vals = {"old": old, "new": new}
    runs = perf_ab.run_pairs(lambda side, seed: (0, _line(*vals[side][seed])), 5, 0)
    p50, ops = perf_ab.summarize(runs, METRICS)
    # inclusive quartiles of [100, 110, 120, 130, 140] and [90, 100, 120, 120, 130]
    assert p50["old"] == (110, 120, 130)
    assert p50["new"] == (100, 120, 120)
    assert p50["delta_pct"] == 0.0
    assert p50["won"] == 4 and p50["pairs"] == 5  # pair 2 is a tie
    assert ops["old"] == (1.9, 2.0, 2.0)
    assert ops["new"] == (2.2, 2.3, 2.4)
    assert ops["delta_pct"] == pytest.approx(15.0)
    assert ops["won"] == 4  # higher is better; pair 3 lost
    assert "ops_per_s | 2 [1.9, 2] | 2.3 [2.2, 2.4] | +15.0% | 4/5" in perf_ab.format_table(
        "api_serving", [p50, ops])


def test_pairs_missing_a_side_are_left_out_of_the_summary():
    runs = perf_ab.run_pairs(
        lambda side, seed: (0, _line(100 + seed, 1.0)) if (side, seed) != ("new", 1)
        else (1, None), 3, 0)
    (p50, _) = perf_ab.summarize(runs, METRICS)
    assert p50["pairs"] == 2 and p50["old"][1] == 101.0


@pytest.mark.parametrize("code,line", [
    (1, _line(1.0, 1.0)),
    (0, None),
    (0, _line(1.0, 1.0, failed=1)),
    (0, dict(_line(1.0, 1.0), correct=False)),
])
def test_any_bad_run_is_reported(code, line):
    runs = perf_ab.run_pairs(
        lambda side, seed: (code, line) if side == "new" and seed == 1 else (0, _line(1.0, 1.0)),
        2, 0)
    assert [(r["side"], r["seed"]) for r in perf_ab.bad_runs(runs)] == [("new", 1)]


def test_clean_runs_are_not_bad():
    runs = perf_ab.run_pairs(lambda side, seed: (0, _line(1.0, 1.0)), 2, 0)
    assert perf_ab.bad_runs(runs) == []
