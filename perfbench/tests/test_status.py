"""The status-store reader turns a job group into Spark's counters."""

import os

import pytest

from perfbench.status import StatusReader, final_exchanges, parse_metric


def test_parse_metric_reads_totals_in_base_units():
    assert parse_metric("1,000") == 1000
    assert parse_metric("599.2 KiB") == pytest.approx(599.2 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.7 s (382 ms, 447 ms, 500 ms (stage 6.0: task 8))") == 1700
    assert parse_metric("0 ms") == 0
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import harness

    run_dir = str(tmp_path_factory.mktemp("run"))
    cwd = os.getcwd()
    harness.pin_environment(run_dir)
    s = harness.start_session()
    yield s, run_dir
    harness.stop_jvm()
    os.chdir(cwd)


def test_known_query_counters(spark):
    """A scan -> partial aggregate -> one hash Exchange -> final aggregate
    query: one shuffle and three jobs of one counted stage each — the
    footer read of ``spark.read.parquet``, the shuffle map stage and the
    result stage (whose copy of the map stage is skipped, not counted) —
    with shuffle bytes written and read, and its file scan size."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    s, run_dir = spark
    path = os.path.join(run_dir, "t.parquet")
    pq.write_table(pa.table({"a": list(range(20_000))}), path)
    s.sparkContext.setJobGroup("probe", "known query")
    df = s.read.parquet(path).groupBy((F.col("a") % 7).alias("k")).count()
    assert len(df.collect()) == 7
    s.sparkContext._jsc.clearJobGroup()
    assert final_exchanges(df) == 1
    c = StatusReader(s).counters({"probe", "absent"})
    assert c["absent"]["jobs"] == 0
    p = c["probe"]
    assert p["jobs"] == 3
    assert p["stages"] == 3
    assert p["tasks"] >= 3
    assert p["shuffle_write_bytes"] > 0
    assert p["shuffle_read_bytes"] == p["shuffle_write_bytes"]
    assert p["scan_bytes"] > 0
    assert p["executor_run_ms"] >= 0 and p["executor_cpu_ns"] > 0
