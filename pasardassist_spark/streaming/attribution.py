"""Watermarked stream-stream interval join: purchase→click attribution.

The reference joins its two event families (order events, token events)
only at query time, against fully-landed tables. A streaming engine can
join them in flight: here each ``purchase`` event is attributed to every
``click`` by the same user within the preceding attribution window — the
canonical stream-stream join (two watermarked sides + an event-time range
condition, so Spark can bound BOTH join states and drop expired rows).

State bound: each side buffers at most (watermark + window) of data per
key. Without the range condition the click state would grow forever — the
condition is what makes the join feasible at 100 TB/day stream rates.

The batch twin (``attribution_batch``) is the same join on the landed
table; equivalence is tested in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

ATTRIBUTION_WINDOW = "30 minutes"


def _sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return clicks, purchases


_COND = (
    "clicks.user_id = purchases.user_id AND "
    f"click_ts BETWEEN purchase_ts - INTERVAL {ATTRIBUTION_WINDOW} AND purchase_ts"
)


def _join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    return purchases.alias("purchases").join(
        clicks.alias("clicks"), F.expr(_COND)
    ).select(
        "purchases.user_id", "purchase_id", "purchase_ts", "purchase_value",
        "click_id", "click_ts",
    )


def attribution_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming form: both sides watermarked, range-bounded join state."""
    clicks, purchases = _sides(events)
    return _join(
        clicks.withWatermark("click_ts", watermark),
        purchases.withWatermark("purchase_ts", watermark),
    )


def attribution_batch(events: DataFrame) -> DataFrame:
    """Batch twin on the landed table — the equivalence oracle."""
    return _join(*_sides(events))
