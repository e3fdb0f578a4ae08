"""Streaming drift monitor: the incrementally-maintained KS readout must
equal the batch stat_ks_test after replaying the 'click' sample in
micro-batches against the frozen 'view' reference distribution."""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import functions as F

from pasardassist_spark.streaming.generations import admitted_events, start_epochs
from pasardassist_spark.tables import load


def test_streaming_drift_equals_batch_ks(spark, sf_dir, tmp_path):
    from pasardassist_spark.queries.matching import (
        KS_SAMPLE_A,
        KS_SAMPLE_B,
        stat_ks_test,
    )
    from pasardassist_spark.streaming.drift import (
        apply_value_batch,
        drift_from_state,
    )

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == KS_SAMPLE_A).select("value")
    rows = clicks.collect()

    # replay the live sample in 3 micro-batches so at least two merges fold
    # into existing state (the incremental path, not just the first write)
    src = str(tmp_path / "chunks")
    os.makedirs(src)
    chunk = len(rows) // 3 + 1
    idx = 0
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            stage = tmp_path / f"stage{i}"
            spark.createDataFrame(part, clicks.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(stage))
            for f in os.listdir(stage):
                if f.endswith(".parquet"):
                    os.rename(
                        str(stage / f), os.path.join(src, f"part{idx}.parquet")
                    )
                    idx += 1
    assert idx == 3

    stream = (
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_value_batch, state_dir=str(tmp_path / "state")
    ))
    q.processAllAvailable()
    q.stop()

    from pasardassist_spark.streaming.generations import committed_versions

    assert len(committed_versions(str(tmp_path / "state"))) >= 2

    reference = (
        ev.filter(F.col("event_type") == KS_SAMPLE_B)
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    got = drift_from_state(spark, str(tmp_path / "state"), reference).collect()
    want = stat_ks_test(spark, sf_dir).collect()
    assert len(got) == len(want) == 1
    assert got[0].asDict() == want[0].asDict()


def test_psi_distance_matches_sequential_reference(spark):
    """PSI differential vs a pure-Python implementation of the same
    definition (eps floor, sorted-bin fold), plus the degenerate cases:
    identical distributions score ~0; a bin present on only one side
    drives the score up through the eps floor rather than NaN/inf."""
    import math

    from pasardassist_spark.operators.drift import (
        PSI_EPS,
        psi_distance,
    )

    rows = [(0, 50, 40), (1, 30, 35), (2, 20, 0), (3, 0, 25)]
    df = spark.createDataFrame(rows, "value long, cnt_a long, cnt_b long")
    got = psi_distance(df).collect()[0]
    n_a = sum(a for _, a, _ in rows)
    n_b = sum(b for _, _, b in rows)
    want = 0.0
    for _, a, b in sorted(rows):
        pa = max(a / n_a, PSI_EPS)
        pb = max(b / n_b, PSI_EPS)
        want += (pa - pb) * math.log(pa / pb)
    assert got.n_a == n_a and got.n_b == n_b and got.n_bins == 4
    assert got.psi == round(want, 6)
    assert got.drifted == (got.psi >= 0.25)

    same = spark.createDataFrame(
        [(0, 10, 20), (1, 30, 60)], "value long, cnt_a long, cnt_b long"
    )
    assert psi_distance(same).collect()[0].psi == 0.0


def test_drift_from_state_psi_metric(spark, sf_dir, tmp_path):
    """The psi metric rides the same maintained state and full-outer
    alignment as ks; an unknown metric fails loudly."""
    import pytest as _pytest

    from pasardassist_spark.streaming.drift import (
        apply_value_batch,
        drift_from_state,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(float(i % 5),) for i in range(100)], "value double"
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_value_batch, state_dir=str(tmp_path / "state")
    ))
    q.processAllAvailable()
    q.stop()
    ref = spark.createDataFrame(
        [(float(v), 20) for v in range(5)], "value double, cnt long"
    )
    row = drift_from_state(
        spark, str(tmp_path / "state"), ref, metric="psi"
    ).collect()[0]
    assert row.psi == 0.0 and not row.drifted  # identical shares
    with _pytest.raises(ValueError, match="unknown drift metric"):
        drift_from_state(spark, str(tmp_path / "state"), ref, metric="nope")


def test_state_time_travel_reads_pinned_generation(spark, tmp_path):
    """Delta-style time travel on the generational store: each retained
    committed generation stays readable by version, the default read is
    the newest, and a version outside the retained window fails loudly
    instead of serving a different snapshot."""
    import pytest as _pytest

    from pasardassist_spark.streaming.drift import apply_value_batch
    from pasardassist_spark.streaming.generations import committed_versions
    from pasardassist_spark.streaming.ingest import read_state

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        spark.createDataFrame(
            [(float(i),)] * (i + 1), "value double"
        ).coalesce(1).write.parquet(str(tmp_path / f"st{i}"))
        for f in os.listdir(tmp_path / f"st{i}"):
            if f.endswith(".parquet"):
                os.rename(
                    str(tmp_path / f"st{i}" / f),
                    os.path.join(src, f"p{i}.parquet"),
                )
    stream = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_value_batch, state_dir=str(tmp_path / "state"),
        keep_generations=10,
    ))
    q.processAllAvailable()
    q.stop()

    state_dir = str(tmp_path / "state")
    vs = committed_versions(state_dir)
    assert len(vs) == 3
    # totals grow monotonically across generations: 1, then 1+2, then 1+2+3
    totals = [
        read_state(spark, state_dir, version=v)
        .groupBy()
        .sum("cnt")
        .collect()[0][0]
        for v in vs
    ]
    assert totals == [1, 3, 6]
    # int form and default (latest) agree with the pinned reads
    assert (
        read_state(spark, state_dir, version=int(vs[0][1:]))
        .groupBy().sum("cnt").collect()[0][0]
        == 1
    )
    latest = read_state(spark, state_dir).groupBy().sum("cnt").collect()[0][0]
    assert latest == 6
    with _pytest.raises(ValueError, match="not a committed retained"):
        read_state(spark, state_dir, version=999)


def test_drift_history_one_row_per_epoch(spark, sf_dir, tmp_path):
    """With a reference + monitor_dir, each epoch appends exactly one
    drift row (epoch-stamped, exactly-once slots) and the trajectory's
    final row equals the point-in-time readout."""
    from pasardassist_spark.queries.matching import KS_SAMPLE_A, KS_SAMPLE_B
    from pasardassist_spark.streaming.drift import (
        apply_value_batch,
        drift_from_state,
    )

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == KS_SAMPLE_A).select("value")
    rows = clicks.collect()
    src = str(tmp_path / "chunks")
    os.makedirs(src)
    chunk = len(rows) // 3 + 1
    idx = 0
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            stage = tmp_path / f"s{i}"
            spark.createDataFrame(part, clicks.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(stage))
            for f in os.listdir(stage):
                if f.endswith(".parquet"):
                    os.rename(
                        str(stage / f), os.path.join(src, f"p{idx}.parquet")
                    )
                    idx += 1
    reference = (
        ev.filter(F.col("event_type") == KS_SAMPLE_B)
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    stream = (
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_value_batch, state_dir=str(tmp_path / "state"),
        reference_counts=reference, monitor_dir=str(tmp_path / "mon"),
    ))
    q.processAllAvailable()
    q.stop()

    hist = admitted_events(spark, str(tmp_path / "mon"))
    h = sorted(hist.collect(), key=lambda r: r.epoch)
    assert [r.epoch for r in h] == [0, 1, 2]
    # n_a grows monotonically as the live sample accumulates
    assert h[0].n_a < h[1].n_a < h[2].n_a
    final = drift_from_state(
        spark, str(tmp_path / "state"), reference
    ).collect()[0]
    assert {k: v for k, v in h[-1].asDict().items() if k != "epoch"} == final.asDict()


def test_epoch_guard_makes_sum_merges_exactly_once(spark, tmp_path):
    """merge_into_bucketed_state(epoch_id=): replaying a committed epoch's
    sum-merge is a no-op; the next epoch applies; compaction carries the
    epoch marker so a post-compaction replay still cannot double-merge."""
    from pyspark.sql import DataFrame

    from pasardassist_spark.streaming.ingest import (
        compact_state,
        merge_into_bucketed_state,
        read_state,
    )

    state = str(tmp_path / "state")

    def fold(df: DataFrame):
        return df.groupBy("k").agg(F.sum("n").cast("long").alias("n"))

    def total():
        return read_state(spark, state).groupBy().sum("n").collect()[0][0]

    b0 = spark.createDataFrame([(1, 5), (2, 3)], "k long, n long")
    merge_into_bucketed_state(b0, state, ("k",), fold, epoch_id=0)
    assert total() == 8
    merge_into_bucketed_state(b0, state, ("k",), fold, epoch_id=0)  # retry
    assert total() == 8  # not 16
    b1 = spark.createDataFrame([(2, 2)], "k long, n long")
    merge_into_bucketed_state(b1, state, ("k",), fold, epoch_id=1)
    assert total() == 10
    assert compact_state(spark, state, keep_generations=5)
    # post-compaction replay of epoch 1: still a no-op
    merge_into_bucketed_state(b1, state, ("k",), fold, epoch_id=1)
    assert total() == 10
    # and epoch 2 still applies after compaction
    merge_into_bucketed_state(
        spark.createDataFrame([(9, 1)], "k long, n long"),
        state, ("k",), fold, epoch_id=2,
    )
    assert total() == 11


def test_quantized_monitor_bounds_state_and_scores_sanely(spark, sf_dir, tmp_path):
    """quantize= buckets the live distribution to a fixed grid: state
    cardinality is O(domain/width), and PSI vs a same-grid reference of
    the SAME sample distribution is ~0 (the raw-double pathology where
    the eps floor dominates cannot occur on shared bins)."""
    from pasardassist_spark.queries.matching import KS_SAMPLE_A
    from pasardassist_spark.streaming.drift import (
        apply_value_batch,
        drift_from_state,
    )
    from pasardassist_spark.streaming.ingest import read_state

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == KS_SAMPLE_A).select("value")
    src = str(tmp_path / "src")
    clicks.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_value_batch, state_dir=str(tmp_path / "state"), quantize=50.0,
    ))
    q.processAllAvailable()
    q.stop()
    st = read_state(spark, str(tmp_path / "state"))
    n_bins = st.count()
    assert n_bins < clicks.distinct().count()  # grid, not raw doubles
    assert all(r.value % 50.0 == 0 for r in st.collect())
    # same-grid reference built from the same sample => psi exactly 0
    ref = (
        clicks.groupBy((F.floor(F.col("value") / 50.0) * 50.0).alias("value"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    row = drift_from_state(
        spark, str(tmp_path / "state"), ref, metric="psi"
    ).collect()[0]
    assert row.psi == 0.0 and not row.drifted
