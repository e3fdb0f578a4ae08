"""Streaming k-anonymity monitor (streaming/privacy.py): incremental
class-size maintenance equals the batch readout, survives multi-batch
replay, and its below-k readout drives the ST6 alerting channel."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from pasardassist_spark.streaming.generations import start_epochs
from pasardassist_spark.streaming.privacy import (
    apply_kanon_batch,
    below_k_readout,
    k_anonymity_from_state,
)
from pasardassist_spark.tables import load

QI = ("event_type", "qi_bucket")


def _src(spark, sf_dir, tmp_path, n_files):
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.pmod(F.col("user_id"), F.lit(10)).cast("long").alias("qi_bucket"),
    )
    src = str(tmp_path / "src")
    for i in range(n_files):
        ev.filter(F.pmod(F.col("event_id"), F.lit(n_files)) == i).coalesce(
            1
        ).write.mode("append").parquet(src)
    return ev, src


def test_incremental_equals_batch_over_micro_batches(spark, sf_dir, tmp_path):
    """Four micro-batches (maxFilesPerTrigger=1) must fold to exactly the
    batch groupBy — the associative-sum convergence contract."""
    ev, src = _src(spark, sf_dir, tmp_path, 4)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(*QI)
    )
    state = str(tmp_path / "state")
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_kanon_batch, state_dir=state, qi=QI
    ))
    q.processAllAvailable()
    q.stop()
    got = {
        (r.event_type, r.qi_bucket): (r.class_size, r.meets_k)
        for r in k_anonymity_from_state(spark, state, QI, 5).collect()
    }
    want = {
        (r.event_type, r.qi_bucket): (r["count"], r["count"] >= 5)
        for r in ev.groupBy(*QI).count().collect()
    }
    assert got == want


def test_below_k_readout_drives_alert_channel(spark, sf_dir, tmp_path):
    """The monitor's DQ-shaped readout through streaming/alerts: at an
    absurd k every class violates (one alert naming the check); at k=1
    none do (silence)."""
    from pasardassist_spark.streaming.alerts import alert_on_failures

    class Rec:
        def __init__(self):
            self.sent = []

        def send(self, subject, body):
            self.sent.append((subject, body))

    ev, src = _src(spark, sf_dir, tmp_path, 1)
    stream = spark.readStream.schema(ev.schema).parquet(src).select(*QI)
    state = str(tmp_path / "state")
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_kanon_batch, state_dir=state, qi=QI
    ))
    q.processAllAvailable()
    q.stop()

    ch = Rec()
    n_classes = k_anonymity_from_state(spark, state, QI, 1).count()
    out = alert_on_failures(
        below_k_readout(spark, state, QI, 10**9), ch
    )
    assert out and out[0]["check"] == "kanon_classes_below_k"
    assert out[0]["n_violations"] == n_classes
    assert "kanon_classes_below_k" in ch.sent[0][1]

    assert alert_on_failures(below_k_readout(spark, state, QI, 1), ch) == []
    assert len(ch.sent) == 1, "green posture must stay silent"
