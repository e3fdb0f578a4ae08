"""Gap sessionization: a session ends when a user is idle for more than
``GAP_SECONDS`` (the reference has no session concept; a training-data
event pipeline needs one for engagement features and sampling).

- ``sessionize_batch``: lag/gap marker, running sum to session ids, one
  aggregation — one hash shuffle by user, and the form the DuckDB oracle
  of ``sess_gap_sessionize`` mirrors.
- ``sessionize_stream``: the same rows from Spark's native gap window
  (``F.session_window``) as an append-mode streaming aggregation. The
  engine keeps the in-flight sessions in its state store, merges two of
  them when a late-but-admissible event bridges their gap, and emits a
  session only once the watermark passes its end (last event + gap), so
  every emitted row is FINAL and append mode needs no retractions. Pinned
  by tests/test_sessions.py::test_late_event_merges_pending_sessions.

Both forms build a session row from ``_session_aggs``, and ``gap_window``
is the one place the boundary rule lives (debounce uses it too).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

GAP_SECONDS = 1800


def gap_window(ts: str, gap_seconds: int) -> Column:
    """Spark's gap window for ``ts``: each event spans [ts, ts + gap) and
    windows merge when one starts AT or before another's end, so an event
    exactly ``gap_seconds`` after its predecessor joins its session and only
    a GREATER gap opens a new one — the batch rule."""
    return F.session_window(ts, f"{gap_seconds} seconds")


def _session_aggs() -> list[Column]:
    us = F.unix_micros(F.col("ts"))
    return [
        F.min(us).alias("session_start"),
        F.max(us).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    ]


def sessionize_batch(ev: DataFrame, gap_seconds: int = GAP_SECONDS) -> DataFrame:
    """Batch sessionization: gap > gap_seconds starts a new session."""
    us = F.unix_micros(F.col("ts"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marker = F.when(
        us - F.lag(us).over(w) > gap_seconds * 1_000_000, 1
    ).otherwise(0)
    sess = ev.withColumn("_new", marker).withColumn(
        "_sid", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "_sid").agg(*_session_aggs()).drop("_sid")


def sessionize_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming sessionization over an event stream with a ``ts`` column:
    append-mode FINAL session rows, the columns of ``sessionize_batch``."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", gap_window("ts", GAP_SECONDS))
        .agg(*_session_aggs())
        .drop("session_window")
    )
