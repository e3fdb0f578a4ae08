"""Streaming CEP — operators/cep.py:match_pattern's streaming twin.

Contiguous row-pattern matching over a live event stream, FINAL emission
only: a match row leaves the operator only once the event-time watermark
has passed its LAST event's timestamp. At that point no admissible late
event can insert between the matched rows (any such event would need a
timestamp inside the match span, which is entirely below the watermark),
so contiguity is sealed and append mode needs no retractions. Latency =
watermark delay.

State per key: the not-yet-sealed events plus the last k-1 sealed events
(a future arrival can still extend a pattern that starts on the sealed
tail), each reduced to (timestamp, id, step-bitmask) — the step
predicates evaluate ROW-LOCALLY into a bitmask BEFORE the shuffle, so the
Python fold never re-evaluates Spark expressions and state carries three
long arrays, not event payloads. An emitted-through marker (ts, id) makes
re-evaluation of the sealed tail idempotent: a match is emitted exactly
once, in event-time order.

This is the package's one hand-written ``applyInPandasWithState`` fold:
no built-in streaming operator matches contiguous row patterns, whereas
sessions and debounce bursts are Spark's native session windows
(streaming/sessions.py).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

_OUT_SCHEMA = "user_id long, match_ids array<long>, start_us long, end_us long"
_STATE_SCHEMA = (
    "ts array<long>, ids array<long>, masks array<long>, em_ts long, em_id long"
)


def _make_fold(k: int, within_us: int | None):
    def fold(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any):
        (user,) = key
        events: list[tuple[int, int, int]] = []
        em = (-(1 << 62), -(1 << 62))
        if state.exists:
            ts, ids, masks, em_ts, em_id = state.get
            events = [(int(t), int(i), int(m)) for t, i, m in zip(ts, ids, masks)]
            em = (int(em_ts), int(em_id))
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            events.extend(
                (int(t), int(i), int(m))
                for t, i, m in zip(rows["us"], rows["eid"], rows["mask"])
            )
        events.sort()
        wm_us = state.getCurrentWatermarkMs() * 1000

        out = []
        for p in range(len(events) - k + 1):
            w = events[p : p + k]
            if not all((w[i][2] >> i) & 1 for i in range(k)):
                continue
            end_ts, end_id = w[-1][0], w[-1][1]
            if end_ts >= wm_us:
                continue  # end not sealed yet; re-evaluated later
            if (end_ts, end_id) <= em:
                continue  # already emitted on an earlier pass
            if within_us is not None and end_ts - w[0][0] > within_us:
                continue
            out.append((user, [e[1] for e in w], w[0][0], end_ts))
            em = (end_ts, end_id)

        sealed = [e for e in events if e[0] < wm_us]
        unsealed = [e for e in events if e[0] >= wm_us]
        keep = (sealed[-(k - 1) :] if k > 1 else []) + unsealed
        if keep:
            state.update((
                [e[0] for e in keep],
                [e[1] for e in keep],
                [e[2] for e in keep],
                em[0],
                em[1],
            ))
            if unsealed:
                # wake when the earliest unsealed event (a potential match
                # end) seals; must sit beyond the current watermark
                nxt = unsealed[0][0] // 1000 + 1
                state.setTimeoutTimestamp(
                    max(nxt, state.getCurrentWatermarkMs() + 1)
                )
        elif state.exists:
            state.remove()

        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "match_ids", "start_us", "end_us"]
            )

    return fold


def match_pattern_stream(
    stream: DataFrame,
    steps: Sequence[Column],
    id_col: str = "event_id",
    time_col: str = "ts",
    within_us: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming contiguous pattern matching per ``user_id`` (append mode,
    FINAL emissions — see module docstring). ``steps`` are boolean
    Columns over a single event row, exactly as in the batch operator;
    they compile into a per-row bitmask before the shuffle. Returns
    (user_id, match_ids, start_us, end_us) rows, each emitted exactly
    once, sealed by the watermark."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    k = len(steps)
    if k == 0:
        raise ValueError("pattern needs at least one step")
    mask = None
    for i, s in enumerate(steps):
        # coalesce per bit: a NULL predicate (e.g. eq on a NULL column) is
        # a NON-match, exactly as the batch operator's where() treats it —
        # an un-coalesced NULL would poison the whole mask and crash the
        # fold's int() conversion
        bit = F.coalesce(s.cast("boolean"), F.lit(False)).cast("long") * (1 << i)
        mask = bit if mask is None else mask + bit
    ev = stream.withWatermark(time_col, watermark).select(
        "user_id",
        F.col(time_col),  # the watermarked column must reach the operator
        F.unix_micros(F.col(time_col)).alias("us"),
        F.col(id_col).alias("eid"),
        mask.alias("mask"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _make_fold(k, within_us),
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
