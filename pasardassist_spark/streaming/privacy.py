"""Streaming privacy monitor: k-anonymity maintained incrementally over
the ingest stream (the streaming twin of operators/privacy.py —
docgate/imagegate's sibling for the release-audit shelf).

A release gate that recomputes class sizes from all history per batch is
O(history); this maintains per-QI-class counts in the generational
bucketed state store (streaming/ingest.py), so each micro-batch costs
O(batch + touched-state) and the CURRENT answer to "which classes could
be released at k" is one metadata-sized readout away. Counts are
associative sums, so replay / out-of-order batches converge to the batch
fixpoint (the registered query's oracle IS the batch groupBy).

The below-k readout emits the (check, n_violations) shape
streaming/alerts.py consumes — wiring the monitor to the ST6 alerting
channel makes "a release-blocking class appeared" a notification, the
reference's mail-on-divergence loop (data-check.service.ts:24-60)
generalized to privacy posture.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.streaming.ingest import (
    merge_into_bucketed_state,
    read_state,
)


def _fold(keys: Sequence[str]):
    def fold(counts: DataFrame) -> DataFrame:
        return counts.groupBy(*keys).agg(
            F.sum("class_size").cast("long").alias("class_size")
        )

    return fold


def apply_kanon_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    qi: Sequence[str],
    keep_generations: int = 2,
) -> None:
    """One epoch of class-size maintenance: fold the batch to per-QI
    partial counts and merge them into the bucketed generational state
    (epoch-guarded, so a foreachBatch retry of a committed merge is a
    no-op). QI columns must be non-null on the stream (the state store's
    key contract); derive an explicit bucket upstream, exactly as the
    batch shelf's banding does."""
    keys = tuple(qi)
    delta = batch_df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    merge_into_bucketed_state(
        delta, state_dir, keys, _fold(keys), keep_generations,
        epoch_id=epoch_id,
    )


def k_anonymity_from_state(
    spark: SparkSession, state_dir: str, qi: Sequence[str], k: int
) -> DataFrame:
    """The k-anonymity readout derived from the maintained state —
    schema-identical to operators/privacy.k_anonymity_classes, at
    O(state) cost instead of a history rescan."""
    st = read_state(spark, state_dir)
    if st is None:
        raise ValueError(f"no committed k-anonymity state under {state_dir}")
    return st.select(
        *qi,
        F.col("class_size").cast("long").alias("class_size"),
        (F.col("class_size") >= k).alias("meets_k"),
    )


def below_k_readout(
    spark: SparkSession, state_dir: str, qi: Sequence[str], k: int
) -> DataFrame:
    """One (check, n_violations) row — the streaming/alerts.py contract:
    n_violations = number of CLASSES currently below k. Feed it to
    alert_on_failures/dq_alert_sink to mail/log when the stream's
    current release posture regresses."""
    classes = k_anonymity_from_state(spark, state_dir, qi, k)
    return classes.agg(
        F.lit("kanon_classes_below_k").alias("check"),
        F.sum(F.when(~F.col("meets_k"), 1).otherwise(0))
        .cast("long")
        .alias("n_violations"),
    )
