"""Streaming sessionization (a native session-window aggregation) must emit
exactly the sessions the batch window form computes, with the same gap
boundary, and only once the watermark seals them. A source scan keeps
hand-written state machines (``applyInPandasWithState``) to streaming/cep.py,
the one pattern no built-in streaming operator expresses."""

from __future__ import annotations

import ast
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pasardassist_spark.streaming.sessions import (
    GAP_SECONDS,
    gap_window,
    sessionize_batch,
    sessionize_stream,
)
from pasardassist_spark.tables import load

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "pasardassist_spark")
US = 1_000_000
# case rows start here (s): well above the epoch-0 initial watermark
BASE_S = 100_000
EVENT_COLUMNS = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)


def stream_rows(spark, tmp_path, batches, form, name):
    """Run ``form`` over ``batches`` of (event_id, ts_us, user_id,
    event_type, value) rows, one micro-batch each, then over a far-future
    sentinel that moves the watermark past every case row. Returns the rows
    emitted before the sentinel and all rows emitted; every case row is
    also written to ``tmp_path/sf/events.parquet`` for the batch form."""
    from pasardassist_spark.streaming import read_event_stream

    src, sf = tmp_path / "src", tmp_path / "sf"
    src.mkdir()
    sf.mkdir()

    def drop(rows, path):
        df = spark.createDataFrame(
            [(eid, t * 1000, u, et, v, "{}") for eid, t, u, et, v in rows], EVENT_COLUMNS
        )
        staging = str(tmp_path / "staging")
        df.coalesce(1).write.parquet(staging)
        (pq,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
        os.rename(os.path.join(staging, pq), str(path))
        shutil.rmtree(staging)

    for i, rows in enumerate(batches):
        drop(rows, src / f"p{i}.parquet")
    drop([r for rows in batches for r in rows], sf / "events.parquet")

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        form(stream).writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        early = spark.table(name).collect()
        drop([(0, 10 * 86400 * US, 99, "view", 0.0)], src / f"p{len(batches)}.parquet")
        q.processAllAvailable()
        return early, spark.table(name).collect()
    finally:
        q.stop()


def test_stream_sessions_equal_batch(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events")
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))

    # sentinel far-future event per user forces every real session closed
    far = raw.agg(F.max("ts")).first()[0] + 10 * 86400 * 1_000_000_000
    sentinels = (
        ev.select("user_id").distinct()
        .select(
            (F.col("user_id") + 10_000_000).alias("event_id"),
            F.lit(far).cast("long").alias("ts"),
            "user_id",
            F.lit("view").alias("event_type"),
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
    out = sessionize_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    sentinel_us = far // 1000
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM sessions").collect()
        if r.session_start < sentinel_us
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 6))
        for r in sessionize_batch(ev).collect()
    }
    assert got == want


def test_sessionize_agrees_with_builtin_session_window(spark, sf_dir):
    """Cross-validation: the lag/running-sum sessionize_batch must produce
    the same session rows as Spark's built-in session window under
    ``gap_window``, with start and end read off the window itself (it
    closes at last event + gap)."""
    ev = load(spark, sf_dir, "events")
    w = F.col("w")
    builtin = (
        ev.groupBy("user_id", gap_window("ts", GAP_SECONDS).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(w.start).alias("session_start"),
            (F.unix_micros(w.end) - GAP_SECONDS * US).alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    ours = sorted(tuple(r) for r in sessionize_batch(ev).collect())
    assert ours == sorted(tuple(r) for r in builtin.collect())
    assert ours


@pytest.mark.parametrize("past_gap_us, n_sessions", [(0, 1), (1, 2)])
def test_stream_gap_boundary_equals_batch(spark, tmp_path, past_gap_us, n_sessions):
    """An event exactly GAP_SECONDS after its predecessor stays in the
    session; one microsecond later opens a new one. The stream form draws
    the boundary where sessionize_batch does."""
    t0 = BASE_S * US
    t1 = t0 + GAP_SECONDS * US + past_gap_us
    _, got = stream_rows(
        spark, tmp_path, [[(1, t0, 1, "view", 1.0), (2, t1, 1, "view", 2.0)]],
        sessionize_stream, f"sess_boundary_{past_gap_us}",
    )
    want = sessionize_batch(load(spark, str(tmp_path / "sf"), "events")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) == n_sessions


def test_stream_schema_is_the_session_row(spark, tmp_path):
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).parquet(str(tmp_path))
    assert sessionize_stream(stream).schema.simpleString() == (
        "struct<user_id:bigint,session_start:bigint,session_end:bigint,"
        "n_events:bigint,total_value:double>"
    )


def test_late_event_merges_pending_sessions(spark, tmp_path):
    """The finality guarantee (VERDICT r5 directive #4): a late-but-within-
    watermark event that lands in the gap between two in-state sessions
    must MERGE them before anything is emitted — the old eager-emission
    design would already have shipped the first session and been unable to
    retract it. Also pins the other half of the contract: nothing is
    emitted until the watermark seals a session."""
    from pasardassist_spark.streaming import read_event_stream

    NS = 1_000_000_000
    US = 1_000_000

    def drop(rows, i):
        df = spark.createDataFrame(
            [(eid, t * NS, 1, "view", v, "{}") for eid, t, v in rows],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        staging = str(tmp_path / f"s{i}")
        df.coalesce(1).write.parquet(staging)
        (pq,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
        os.rename(os.path.join(staging, pq), os.path.join(str(tmp_path / "src"), f"p{i}.parquet"))

    os.makedirs(str(tmp_path / "src"))
    # base offset keeps t well above the epoch-0 initial watermark (a
    # t=0 event sits ON the boundary and is dropped as late)
    B = 100_000
    # batch 0: t=B and t=B+3000s -> gap 3000s > 1800s: TWO sessions in
    # state; watermark after batch 0 = B+3000s-3600s < B, so the bridge
    # event below is still admissible
    drop([(1, B, 1.0), (2, B + 3000, 2.0)], 0)
    # batch 1: late bridge at t=B+1500s (<=1800s from both sides) -> ONE session
    drop([(3, B + 1500, 4.0)], 1)
    # batch 2: sentinel far ahead advances the watermark past B+3000s+gap
    drop([(4, 10 * 86400, 0.0)], 2)

    stream = read_event_stream(spark, str(tmp_path / "src"), max_files_per_trigger=1)
    out = sessionize_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("merge_sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = [
        (r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.sql(
            "SELECT * FROM merge_sessions WHERE session_start < 200000000000"
        ).collect()
    ]
    # one FINAL session spanning the bridge, all three events, exact sum
    assert got == [(B * US, (B + 3000) * US, 3, 7.0)]


def _state_machines(root: str) -> list[str]:
    """Every ``applyInPandasWithState`` attribute under ``root`` outside
    ``streaming/cep.py``, as ``relpath:line``."""
    cep = os.path.join("streaming", "cep.py")
    found = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            if not f.endswith(".py") or rel == cep:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            found += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Attribute) and node.attr == "applyInPandasWithState"
            ]
    return sorted(found)


def test_only_cep_hand_writes_a_state_machine():
    offenders = _state_machines(PACKAGE)
    assert not offenders, f"applyInPandasWithState outside streaming/cep.py: {offenders}"


def test_scan_flags_every_state_machine(tmp_path):
    (tmp_path / "streaming").mkdir()
    fold = "def run(ev, f):\n    return ev.groupBy('k').applyInPandasWithState(f)\n"
    (tmp_path / "streaming" / "sessions.py").write_text(fold)
    (tmp_path / "streaming" / "cep.py").write_text(fold)
    (tmp_path / "q.py").write_text("fold = grouped.applyInPandasWithState\n")
    assert _state_machines(str(tmp_path)) == ["q.py:1", "streaming/sessions.py:2"]
