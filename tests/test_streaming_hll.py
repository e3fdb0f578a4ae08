"""Streaming HLL distinct monitor: the maintained per-group estimate must
EQUAL the batch sketch over the same events (HLL union is register-level
deterministic), stay within the sketch error of the exact distinct, and
be exactly-once under a foreachBatch replay."""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import functions as F

from pasardassist_spark.streaming.generations import start_epochs
from pasardassist_spark.streaming.hll import (
    HLL_LG_K,
    apply_hll_batch,
    distinct_counts_from_state,
)
from pasardassist_spark.tables import load


def test_streaming_estimate_equals_batch_sketch(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events").select("event_type", "user_id")
    rows = ev.collect()
    src = str(tmp_path / "chunks")
    os.makedirs(src)
    sz = len(rows) // 3 + 1
    for i in range(3):
        part = rows[i * sz : (i + 1) * sz]
        if part:
            stage = tmp_path / f"s{i}"
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                str(stage)
            )
            (pq,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
            os.rename(str(stage / pq), os.path.join(src, f"p{i}.parquet"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "state")
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_hll_batch, state_dir=state, keys=["event_type"], value_col="user_id"
    ))
    q.processAllAvailable()
    q.stop()

    got = {
        r.event_type: (r.est_distinct, r.n_events)
        for r in distinct_counts_from_state(spark, state).collect()
    }
    want = {
        r.event_type: (r.est, r.n)
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(HLL_LG_K))
            ).alias("est"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want, "stream-maintained sketch differs from batch sketch"

    exact = {
        r.event_type: r.d
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for etype, (est, _) in got.items():
        assert abs(est - exact[etype]) <= max(3, 0.05 * exact[etype]), (
            etype, est, exact[etype],
        )


def test_replayed_epoch_is_exactly_once(spark, sf_dir, tmp_path):
    """n_events is a SUM — a replayed epoch would double it without the
    epoch guard; the estimate is union-idempotent either way."""
    ev = load(spark, sf_dir, "events").select("event_type", "user_id").limit(200)
    state = str(tmp_path / "state")
    apply_hll_batch(ev, 0, state, ["event_type"], "user_id")
    first = {
        r.event_type: (r.est_distinct, r.n_events)
        for r in distinct_counts_from_state(spark, state).collect()
    }
    # replay of epoch 0: must be a no-op
    apply_hll_batch(ev, 0, state, ["event_type"], "user_id")
    again = {
        r.event_type: (r.est_distinct, r.n_events)
        for r in distinct_counts_from_state(spark, state).collect()
    }
    assert again == first
