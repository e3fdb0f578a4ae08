"""BENCHMARK.json and the result line agree on every metric name."""

import json
import os
import re

import pytest

from perfbench import run
from perfbench.harness import Outcome

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_and_units_are_well_formed_and_unique():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert max(m["bound"] for m in spec["end_to_end"]) == setup[0]["bound"] <= 0.25


def _result(layers=None):
    out = Outcome(p50_ms=5.0, ops_per_s=2.0, wall_s=1.5, latencies_ms=[5.0], attempted=3,
                  failed=0)
    return {"setup_s": 1.0, "peak_rss_mb": 100.0, "outcome": out, "layers": layers or {}}


def test_end_to_end_line_carries_exactly_the_listed_metrics():
    spec = _spec()
    line = run.result_line(spec, _result(), trace=False)
    assert set(line["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert line == {**line, "correct": True, "attempted": 3, "failed": 0}


def test_a_metric_missing_from_the_spec_is_an_error():
    with pytest.raises(RuntimeError, match="missing from BENCHMARK.json"):
        run.result_line(_spec(), _result({"api.not_listed_ms": 1.0}), trace=True)


def test_a_failed_operation_makes_the_line_incorrect():
    r = _result()
    r["outcome"].failed = 1
    assert run.result_line(_spec(), r, trace=False)["correct"] is False
