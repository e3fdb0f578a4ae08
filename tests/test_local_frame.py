"""``tables.local_frame``: the one way driver-side rows enter a plan.

Pins (a) that no other module builds a frame from Python rows with
``createDataFrame``, (b) that the helper returns what ``createDataFrame``
returns for every value shape the package feeds it, and (c) that the
result is a ``LocalRelation`` whose collect runs no Spark job (so no
Python worker starts).
"""

from __future__ import annotations

import datetime
import os
import re
from decimal import Decimal

import pytest

from pasardassist_spark.tables import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pasardassist_spark"
)


def test_only_the_helper_calls_create_dataframe():
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == os.path.join(PKG, "tables.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if re.search(r"\bcreateDataFrame\(", line):
                        offenders.append(f"{os.path.relpath(path, PKG)}:{n}")
    assert not offenders, f"build driver rows with tables.local_frame: {offenders}"


def _collected_rows(spark):
    df = spark.range(3).selectExpr(
        "id",
        "cast(id as int) i",
        "cast(id as double) / 3 d",
        "cast(id as decimal(12, 4)) / 7 dec",
        "if(id = 1, null, concat('s', id)) s",
        "array(cast(id as double), 0.1 + 0.2) a",
        "named_struct('x', id, 'y', cast(id as string)) st",
        "timestamp_micros(id * 1000003) t",
        "array(timestamp_micros(id)) ta",
    )
    return df.collect(), df.schema


CASES = {
    "scalars": (
        [(1, 1 << 40, 0.1 + 0.2, "a"), (None, None, None, None), (-7, -1, -0.0, "")],
        "i int, l long, d double, s string",
    ),
    "array_double": (
        [(0, [1.0, 2.5, -0.0]), (1, []), (2, None), (3, [None, 1e-300])],
        "k int, v array<double>",
    ),
    "decimal": ([(Decimal("1.20"),), (None,), (Decimal("-99.99"),)], "x decimal(10,2)"),
    "timestamp": (
        [
            (datetime.datetime(2024, 1, 2, 3, 4, 5, 6),),
            (None,),
            (datetime.datetime(2024, 6, 1, 12, tzinfo=datetime.timezone.utc),),
        ],
        "ts timestamp",
    ),
    "null_key_sentinel": ([(None, 0, 0)], "k string, s long, c long"),
    "empty": ([], "doc_id long, fmt string, text string"),
}


@pytest.mark.parametrize("case", [*CASES, "collected_rows"])
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = _collected_rows(spark) if case == "collected_rows" else CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()


def test_local_frame_collect_runs_no_job(spark):
    sc = spark.sparkContext
    rows = [(i, [float(i)] * 4) for i in range(16)]
    sc.setJobGroup("local_frame_no_job", "local_frame")
    try:
        local_frame(spark, rows, "list_id int, center array<double>").collect()
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("local_frame_no_job")) == []
