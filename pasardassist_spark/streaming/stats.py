"""Streaming gold: incremental collection-stats maintenance (A11's twin).

The reference recomputes collection statistics on a 10-minute cron — 4
queries + 1 RPC per collection (tasks.common.ts:124-154, db.service.ts:
226-274). The batch twin is ``a11_collection_stats``; this module maintains
the same items/owners/tradeVolume/lowestPrice per collection INCREMENTALLY
as line items arrive, so the stats are always current and each micro-batch
costs O(batch + touched-state), not O(history).

Shape: foreachBatch MERGE into the generational bucketed state store
(streaming/ingest.merge_into_bucketed_state) — the directive's "cron
recompute -> streaming maintenance" upgrade, with replay idempotence
inherited from the store's checkpointed source offsets.

The distinct-owners metric is why state is keyed (suppkey, custkey), not
suppkey: COUNT(DISTINCT custkey) is not incrementally maintainable from a
per-suppkey scalar, but it IS from per-(suppkey, custkey) partials —
owners = COUNT(*) of state rows per suppkey. All four metrics become
associative folds at that grain (count-sum, volume-sum, price-min), so
replay / out-of-order batches converge to the batch fix point. State
cardinality is O(|supplier x active customers|) — the key-domain class the
exact metric requires (an HLL sketch per suppkey is the approximate
alternative; see hll_user_rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.streaming.ingest import (
    merge_into_bucketed_state,
    read_state,
)

_KEYS = ("l_suppkey", "o_custkey")


def _partials(lineitems: DataFrame, orders: DataFrame) -> DataFrame:
    """Per-(suppkey, custkey) associative partials for one slice of
    lineitem rows. ``orders`` is the static dimension side of the
    stream-static join (stream side never buffers: each batch joins and
    folds, no streaming state in the join itself)."""
    from pasardassist_spark.queries.aggregates import _disc_price

    zero = F.lit(0).cast("decimal(18,4)")
    return (
        lineitems.join(orders, lineitems.l_orderkey == orders.o_orderkey)
        .groupBy(*_KEYS)
        .agg(
            F.count(F.lit(1)).alias("items"),
            F.sum(
                F.when(F.col("l_linestatus") == "F", _disc_price()).otherwise(zero)
            ).alias("volume"),
            F.min(
                F.when(F.col("l_returnflag") != "A", F.col("l_extendedprice"))
            ).alias("lowest"),
        )
    )


def _fold(partials: DataFrame) -> DataFrame:
    """Associative re-aggregation of partials (sum, sum, null-safe min)."""
    return partials.groupBy(*_KEYS).agg(
        F.sum("items").alias("items"),
        F.sum("volume").cast("decimal(28,4)").alias("volume"),
        F.min("lowest").alias("lowest"),
    )


def apply_stats_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    orders: DataFrame,
    keep_generations: int = 2,
) -> None:
    """One epoch of incremental stats maintenance: the batch's lineitem
    rows join the static orders dim, fold to per-(suppkey, custkey)
    partials, and merge into the bucketed generational state. The merge is
    associative, so replayed batches converge."""
    delta = _partials(batch_df, orders.select("o_orderkey", "o_custkey"))
    # volume partial must carry the widened sum type on both sides of
    # the later merge union
    delta = delta.withColumn("volume", F.col("volume").cast("decimal(28,4)"))
    # sum partials are NOT replay-idempotent: the epoch guard makes a
    # foreachBatch retry of a committed merge a no-op
    merge_into_bucketed_state(
        delta, state_dir, _KEYS, _fold, keep_generations,
        epoch_id=epoch_id,
    )


def collection_stats_from_state(
    spark: SparkSession, state_dir: str, supplier: DataFrame
) -> DataFrame:
    """The A11 stats frame derived from the maintained state: one cheap
    roll-up over O(suppkey x custkey) partials instead of a rescan of all
    history, then the broadcast supplier-dim join. Schema-identical to
    a11_collection_stats."""
    st = read_state(spark, state_dir)
    if st is None:
        raise ValueError(f"no committed stats state under {state_dir}")
    stats = st.groupBy("l_suppkey").agg(
        F.sum("items").alias("items"),
        F.count(F.lit(1)).alias("owners"),  # state rows ARE distinct custkeys
        F.sum("volume").cast("double").alias("trade_volume"),
        F.min("lowest").alias("lowest_price"),
    )
    return stats.join(
        F.broadcast(supplier), stats.l_suppkey == supplier.s_suppkey
    ).select("s_suppkey", "s_name", "items", "owners", "trade_volume", "lowest_price")
