"""Streaming drift monitor — stat_ks_test's streaming twin.

A standing data-quality gate: as events stream in, maintain the live value
distribution incrementally and read out the exact two-sample KS statistic
against a frozen REFERENCE distribution (last accepted snapshot) at any
moment — the "has the input distribution drifted since the last retrain"
check (the reference's production-side correctness idea,
reference src/modules/tasks/data-check.service.ts:24-60, upgraded from
count reconciliation to full distribution comparison).

Shape: foreachBatch folds each micro-batch to per-distinct-value counts
(an associative sum partial) and MERGEs them into the bucketed
generational state store — O(batch + touched-state) per batch, never a
history rescan; the readout joins the accumulated counts to the reference
counts and runs the shared exact-integer KS core
(operators/drift.py:ks_distance). Replay idempotence and crash atomicity
are inherited from the store's checkpointed offsets + CAS staged publish.

State cardinality is O(distinct values). For continuous physical
measurements at 100 TB, quantize the value to a fixed grid with
``quantize`` (the standard binned-ECDF monitor; KS on the binned
distribution bounds the unbinned D within one bin's mass) — the monitor
itself is agnostic to the grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.operators.drift import ks_distance, psi_distance
from pasardassist_spark.streaming.generations import publish_epoch
from pasardassist_spark.streaming.ingest import (
    merge_into_bucketed_state,
    read_state,
)


def _fold(counts: DataFrame) -> DataFrame:
    """Associative re-aggregation of per-value count partials."""
    return counts.groupBy("value").agg(F.sum("cnt").cast("long").alias("cnt"))


def apply_value_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    value_col: str = "value",
    keep_generations: int = 2,
    reference_counts: DataFrame | None = None,
    monitor_dir: str | None = None,
    metric: str = "ks",
    quantize: float | None = None,
) -> None:
    """One epoch of distribution maintenance: fold the batch to (value,
    cnt) partials and merge them into the generational state. The fold
    is an associative sum, so replayed / out-of-order batches converge to
    the batch fix point.

    ``quantize`` buckets values to floor(v/width)*width before counting —
    REQUIRED in practice for continuous measurements: it bounds state at
    O(domain/width) instead of O(distinct doubles), and PSI is only
    meaningful over shared bins (on raw continuous values every bin is
    one-sided and the eps floor dominates the score). Build the reference
    counts on the SAME grid.

    With ``reference_counts`` + ``monitor_dir`` set, each epoch ALSO
    appends its drift readout (the single ``metric`` row, stamped with the
    epoch) to an exactly-once history log — epoch-keyed CAS slots, read
    back with generations.admitted_events — so the drift trajectory over
    time is a queryable table, not just a point-in-time probe. A retried
    epoch re-publishes into its own slot: a no-op."""
    v = F.col(value_col)
    if quantize is not None:
        v = F.floor(v / quantize) * quantize
    delta = (
        batch_df.groupBy(v.alias("value"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # count partials are NOT replay-idempotent: the epoch guard makes
    # a foreachBatch retry of a committed merge a no-op
    merge_into_bucketed_state(
        delta, state_dir, ("value",), _fold, keep_generations,
        epoch_id=epoch_id,
    )
    if reference_counts is not None and monitor_dir is not None:
        row = drift_from_state(
            batch_df.sparkSession, state_dir, reference_counts, metric=metric
        ).withColumn("epoch", F.lit(epoch_id).cast("long"))
        publish_epoch(row.coalesce(1), monitor_dir, epoch_id)


def drift_from_state(
    spark: SparkSession,
    state_dir: str,
    reference_counts: DataFrame,
    metric: str = "ks",
) -> DataFrame:
    """The drift readout between the maintained live distribution (sample
    A) and a frozen reference counts frame (sample B: columns value, cnt).
    Values seen by only one side contribute a zero count on the other —
    the full-outer join every two-sample comparison needs.
    ``metric="ks"`` (default) is schema-identical to stat_ks_test's single
    row; ``metric="psi"`` returns the population-stability-index row
    (operators/drift.py:psi_distance — for continuous values, maintain a
    quantized ``value_expr`` upstream, PSI is inherently binned)."""
    st = read_state(spark, state_dir)
    if st is None:
        raise ValueError(f"no committed distribution state under {state_dir}")
    live = st.select("value", F.col("cnt").alias("cnt_a"))
    ref = reference_counts.select("value", F.col("cnt").alias("cnt_b"))
    counts = (
        live.join(ref, "value", "full_outer")
        .select(
            "value",
            F.coalesce("cnt_a", F.lit(0)).cast("long").alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).cast("long").alias("cnt_b"),
        )
    )
    if metric == "ks":
        return ks_distance(counts)
    if metric == "psi":
        return psi_distance(counts)
    raise ValueError(f"unknown drift metric {metric!r} (use 'ks' or 'psi')")
