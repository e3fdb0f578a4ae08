"""Streaming debounce (a native session-window aggregation) must emit
exactly the burst-opener rows the batch window form computes, with the same
gap boundary, and only once the watermark seals a burst."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pasardassist_spark.queries.analytics import dedup_debounce
from pasardassist_spark.streaming.debounce import DEBOUNCE_GAP_S, debounce_stream
from pasardassist_spark.tables import load
from test_sessions import BASE_S, US, stream_rows


def test_stream_debounce_equals_batch(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events")
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))

    # far-future sentinel per (user, type) seals every real burst
    far = raw.agg(F.max("ts")).first()[0] + 10 * 86400 * 1_000_000_000
    sentinels = (
        ev.select("user_id", "event_type").distinct()
        .select(
            (
                F.monotonically_increasing_id() + 50_000_000
            ).alias("event_id"),
            F.lit(far).cast("long").alias("ts"),
            "user_id",
            "event_type",
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )

    src = str(tmp_path / "src")
    os.makedirs(src)

    def drop(df, i):
        staging = str(tmp_path / f"s{i}")
        df.coalesce(1).write.parquet(staging)
        (pq,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
        os.rename(os.path.join(staging, pq), os.path.join(src, f"p{i}.parquet"))

    rows = raw.orderBy("ts", "event_id").collect()
    half = len(rows) // 2
    drop(spark.createDataFrame(rows[:half], raw.schema), 0)
    drop(spark.createDataFrame(rows[half:], raw.schema), 1)
    drop(sentinels.select(*raw.columns), 2)

    from pasardassist_spark.streaming import read_event_stream

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    out = debounce_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("debounced")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    sentinel_us = far // 1000
    got = {
        (r.user_id, r.event_type, r.event_id, r.ts, r.n_suppressed)
        for r in spark.sql("SELECT * FROM debounced").collect()
        if r.event_id < 50_000_000
    }
    want = {
        (r.user_id, r.event_type, r.event_id, r.ts, r.n_suppressed)
        for r in dedup_debounce(spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0


@pytest.mark.parametrize("past_gap_us, n_bursts", [(0, 1), (1, 2)])
def test_stream_gap_boundary_equals_batch(spark, tmp_path, past_gap_us, n_bursts):
    """An event exactly DEBOUNCE_GAP_S after its predecessor stays in the
    burst; one microsecond later opens a new one, as in dedup_debounce's
    window rule on the same rows."""
    t0 = BASE_S * US
    t1 = t0 + DEBOUNCE_GAP_S * US + past_gap_us
    _, got = stream_rows(
        spark, tmp_path, [[(1, t0, 1, "view", 0.0), (2, t1, 1, "view", 0.0)]],
        debounce_stream, f"debounce_boundary_{past_gap_us}",
    )
    want = dedup_debounce(spark, str(tmp_path / "sf")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == n_bursts


def test_late_event_merges_pending_bursts(spark, tmp_path):
    """Two bursts more than DEBOUNCE_GAP_S apart wait in state; a late event
    within the gap of both merges them into one burst before anything is
    emitted, and the merged opener is the earliest event."""
    t0 = BASE_S * US
    early, got = stream_rows(
        spark,
        tmp_path,
        [
            [(1, t0, 1, "view", 0.0), (2, t0 + 400 * US, 1, "view", 0.0)],
            [(3, t0 + 200 * US, 1, "view", 0.0)],
        ],
        debounce_stream,
        "debounce_late_bridge",
    )
    assert early == []
    assert [(r.event_id, r.n_suppressed) for r in got] == [(1, 2)]


def test_stream_schema_is_the_opener_row(spark, tmp_path):
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).parquet(str(tmp_path))
    assert debounce_stream(stream).schema.simpleString() == (
        "struct<user_id:bigint,event_type:string,event_id:bigint,ts:timestamp,"
        "n_suppressed:bigint>"
    )
