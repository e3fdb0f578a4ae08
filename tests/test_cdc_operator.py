"""Generic snapshot_diff operator + its composition with state-store time
travel (state_diff): classification, null-safe compare, and the
generation audit on a really-maintained distribution state."""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import functions as F

from pasardassist_spark.operators.cdc import snapshot_diff, state_diff


def test_snapshot_diff_classification_and_nullsafe(spark):
    old = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0), (4, 7.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(2, None), (3, 6.0), (4, None), (5, 1.0)], "k long, v double"
    )
    out = {r.k: r for r in snapshot_diff(old, new, ["k"]).collect()}
    assert set(out) == {1, 3, 4, 5}  # 2 unchanged (NULL==NULL null-safely)
    assert out[1].change_type == "removed" and out[1].new_v is None
    assert out[3].change_type == "changed" and (out[3].old_v, out[3].new_v) == (5.0, 6.0)
    assert out[4].change_type == "changed" and out[4].new_v is None  # value -> NULL
    assert out[5].change_type == "added" and out[5].old_v is None


def test_state_diff_audits_generations(spark, tmp_path):
    from pasardassist_spark.streaming.drift import apply_value_batch
    from pasardassist_spark.streaming.generations import committed_versions, start_epochs

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [[1.0, 1.0, 2.0], [1.0, 3.0]]
    for i, vals in enumerate(batches):
        stage = tmp_path / f"s{i}"
        spark.createDataFrame([(v,) for v in vals], "value double").coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage))
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.rename(str(stage / f), os.path.join(src, f"p{i}.parquet"))
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
    vs = committed_versions(str(tmp_path / "state"))
    assert len(vs) == 2
    d = {
        (r.value, r.change_type): (r.old_cnt, r.new_cnt)
        for r in state_diff(
            spark, str(tmp_path / "state"), ["value"], v_old=vs[0]
        ).collect()
    }
    # gen1: {1:2, 2:1}; gen2 adds batch [1,3] => 1 changed 2->3, 3 added
    assert d == {(1.0, "changed"): (2, 3), (3.0, "added"): (None, 1)}
