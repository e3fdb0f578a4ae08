"""Streaming event debounce — the stream twin of the batch
``dedup_debounce`` query (queries/analytics.py): within each
(user, event_type), only the event opening a burst is emitted, with the
count of events it suppressed. A burst is a gap session
(``sessions.gap_window``), so the engine's session-window state gives the
finality contract of streaming/sessions.py: a burst is emitted only once
the watermark passes its end, and a late event that bridges two pending
bursts merges them first (the opener of the merged burst is the earliest
event, in the batch window order (ts, event_id)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pasardassist_spark.streaming.sessions import gap_window

DEBOUNCE_GAP_S = 300


def debounce_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming debounce over an event stream with a ``ts`` column:
    append-mode FINAL burst-opener rows, each with its suppression count."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type", gap_window("ts", DEBOUNCE_GAP_S))
        .agg(
            F.min(F.struct("ts", "event_id")).alias("opener"),
            (F.count(F.lit(1)) - 1).alias("n_suppressed"),
        )
        .select("user_id", "event_type", "opener.event_id", "opener.ts", "n_suppressed")
    )
