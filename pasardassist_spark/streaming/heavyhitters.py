"""Streaming heavy hitters — hh_space_saving's streaming twin.

Maintains a capacity-bounded Misra-Gries summary of a key column as events
stream in: each micro-batch folds to a distributed MG summary (the batch
pass of queries/analytics.py:space_saving_topk — O(partition) work, KB
output), merges it into the retained summary by per-key sum, and
re-compacts to capacity by subtracting the (capacity+1)-th largest counter
and dropping non-positives — the MERGEABLE-SUMMARIES merge (Agarwal,
Cormode, Huang, Phillips, Wei, Yi — PODS'12/TODS'13), which preserves the
MG guarantee across any merge tree:

    est <= true count <= est + n_total / capacity

so every key with true count > n_total/capacity is guaranteed present no
matter how the stream was batched. The summary is KB-scale (<= capacity
rows), so the state is a whole-table generation write (CAS-committed,
time-travelable like every store in streaming/generations.py) and the
driver-side compaction touches bounded metadata only, never data.

This is the standing "top talkers" monitor (hot wallets, hot collections,
abusive clients) a 100 TB event pipeline keeps without ever re-scanning
history; hh_heavy_hitters is the exact batch readout it approximates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.queries.analytics import (
    SKETCH_CAPACITY,
    space_saving_topk,
)
from pasardassist_spark.streaming.generations import (
    latest_unless_replayed,
    read_state,
    write_generation,
)
from pasardassist_spark.tables import local_frame


def _merge_compact(
    prev: dict[int, int], delta: dict[int, int], capacity: int
) -> dict[int, int]:
    """Per-key sum, then MG re-compaction to ``capacity`` entries: subtract
    the (capacity+1)-th largest counter from every counter and drop the
    non-positive remainder. Pure bounded-size dict math (<= 2*capacity
    entries in, <= capacity out)."""
    merged = dict(prev)
    for k, v in delta.items():
        merged[k] = merged.get(k, 0) + v
    if len(merged) <= capacity:
        return merged
    cut = sorted(merged.values(), reverse=True)[capacity]
    return {k: v - cut for k, v in merged.items() if v - cut > 0}


def apply_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    key_col: str,
    capacity: int = SKETCH_CAPACITY,
    keep_generations: int = 2,
) -> None:
    """One epoch's merge: distributed MG fold over the batch (executors do
    the O(batch) work; only the KB summary reaches the driver), per-key
    sum with the retained summary, re-compact, commit a new generation.

    Exactly-once under foreachBatch retries: every generation records the
    epoch that produced it (generations.latest_unless_replayed); a replayed
    epoch (Spark retries the SAME epoch id) is a no-op, so the delta is
    never merged twice."""
    prev_dir, replayed = latest_unless_replayed(state_dir, epoch_id)
    if replayed:
        return  # replay of an already-applied epoch
    spark = batch_df.sparkSession
    prev: dict[int, int] = {}
    if prev_dir is not None:
        rows = spark.read.parquet(prev_dir).collect()
        prev = {int(r[key_col]): int(r["est"]) for r in rows}
    delta_rows = space_saving_topk(batch_df, key_col, capacity).collect()
    delta = {int(r[key_col]): int(r["est"]) for r in delta_rows}
    merged = _merge_compact(prev, delta, capacity)
    out = local_frame(spark, sorted(merged.items()), f"{key_col} long, est long")
    write_generation(out, state_dir, keep=keep_generations, epoch_id=epoch_id)


def heavy_hitters_from_state(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The maintained summary (key, est), largest first — the standing
    top-talkers readout; est carries the MG guarantee above."""
    st = read_state(spark, state_dir)
    if st is None:
        raise ValueError(f"no committed heavy-hitter state under {state_dir}")
    key_col = [c for c in st.columns if c != "est"][0]
    return st.orderBy(F.desc("est"), key_col)
