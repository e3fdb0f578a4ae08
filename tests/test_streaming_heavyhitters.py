"""Streaming Misra-Gries heavy hitters: the maintained summary must keep
the mergeable-summaries guarantee (est <= true <= est + n/capacity, every
true heavy hitter present) after replaying the event log in micro-batches,
and the merge-compact core must match the guarantee on adversarial dicts."""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import functions as F

from pasardassist_spark.tables import load


def test_merge_compact_bounds():
    from pasardassist_spark.streaming.heavyhitters import _merge_compact

    prev = {1: 10, 2: 8, 3: 1}
    delta = {2: 5, 4: 7, 5: 1}
    out = _merge_compact(prev, delta, capacity=3)
    assert len(out) <= 3
    true = {1: 10, 2: 13, 3: 1, 4: 7, 5: 1}
    # the (capacity+1)-th largest of merged values {13,10,7,1,1} is 1
    assert out == {1: 9, 2: 12, 4: 6}
    for k, v in out.items():
        assert v <= true[k]
    # under capacity: pure per-key sum, nothing dropped
    assert _merge_compact({1: 2}, {2: 3}, capacity=4) == {1: 2, 2: 3}


def test_streaming_heavy_hitters_guarantee(spark, sf_dir, tmp_path):
    from pasardassist_spark.streaming.generations import start_epochs
    from pasardassist_spark.streaming.heavyhitters import (
        apply_batch,
        heavy_hitters_from_state,
    )

    ev = load(spark, sf_dir, "events").select("user_id")
    rows = ev.collect()
    n_total = len(rows)
    capacity = 64

    src = str(tmp_path / "chunks")
    os.makedirs(src)
    chunk = len(rows) // 3 + 1
    idx = 0
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            stage = tmp_path / f"stage{i}"
            spark.createDataFrame(part, ev.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(stage))
            for f in os.listdir(stage):
                if f.endswith(".parquet"):
                    os.rename(
                        str(stage / f), os.path.join(src, f"p{idx}.parquet")
                    )
                    idx += 1
    assert idx == 3

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_batch, state_dir=str(tmp_path / "state"), key_col="user_id",
        capacity=capacity,
    ))
    q.processAllAvailable()
    q.stop()

    got = {
        r.user_id: r.est
        for r in heavy_hitters_from_state(
            spark, str(tmp_path / "state")
        ).collect()
    }
    assert 0 < len(got) <= capacity
    true = {
        r.user_id: r.cnt
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    err = n_total / capacity
    for k, est in got.items():
        assert est <= true[k] <= est + err, (k, est, true[k])
    # containment: every key with true count > n/capacity must be present
    for k, cnt in true.items():
        if cnt > err:
            assert k in got, (k, cnt, err)


def test_heavy_hitter_retry_is_noop(spark, tmp_path):
    """foreachBatch retry contract: re-applying the SAME epoch must not
    merge its delta twice; the next epoch still applies."""
    from pasardassist_spark.streaming.heavyhitters import (
        apply_batch,
        heavy_hitters_from_state,
    )

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame([(1,)] * 5 + [(2,)] * 3, "user_id long")
    apply_batch(b1, 0, state, "user_id", 8, 5)
    first = {
        r.user_id: r.est
        for r in heavy_hitters_from_state(spark, state).collect()
    }
    assert first == {1: 5, 2: 3}
    # retry of epoch 0: a no-op, not a double count
    apply_batch(b1, 0, state, "user_id", 8, 5)
    assert {
        r.user_id: r.est
        for r in heavy_hitters_from_state(spark, state).collect()
    } == first
    # epoch 1 applies normally
    b2 = spark.createDataFrame([(2,)] * 4, "user_id long")
    apply_batch(b2, 1, state, "user_id", 8, 5)
    assert {
        r.user_id: r.est
        for r in heavy_hitters_from_state(spark, state).collect()
    } == {1: 5, 2: 7}
