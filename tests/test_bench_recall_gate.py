"""bench.py's recall gate: an ANN row whose recall@10 falls below the
previous same-sf, same-cpus record fails the bench run."""

from __future__ import annotations

import bench

PREV = {
    "sf": 0.1,
    "cpus": 4,
    "ann": {
        "sim_lsh_ann": {"recall10": 0.98, "search_s": 1.0},
        "sim_ivf_ann": {"recall10": 0.88, "build_s": 1.0, "search_s": 1.0},
        "sim_ivfpq_ann": {"recall10": 0.94, "build_s": 1.0, "search_s": 1.0},
    },
}


def _ann(ivfpq: float) -> dict:
    return {
        "sim_lsh_ann": {"recall10": 0.98},
        "sim_ivf_ann": {"recall10": 0.9},
        "sim_ivfpq_ann": {"recall10": ivfpq},
    }


def test_lower_recall_is_a_drop():
    assert bench.recall_drops(_ann(0.84), PREV) == {
        "sim_ivfpq_ann": {"prev": 0.94, "cur": 0.84}
    }


def test_equal_or_higher_recall_passes():
    assert bench.recall_drops(_ann(0.94), PREV) == {}
    assert bench.recall_drops(_ann(0.96), PREV) == {}


def test_no_previous_record_or_row_passes():
    assert bench.recall_drops(_ann(0.5), {}) == {}
    prev = {**PREV, "ann": {"sim_ivf_ann": {"recall10": 0.88}}}
    assert bench.recall_drops(_ann(0.5), prev) == {}
