"""Streaming distinct-count monitor — hll_user_rollup's streaming twin.

Maintains one Datasketches HLL sketch per group as events stream in: each
micro-batch folds to per-group sketch partials (``hll_sketch_agg`` — the
distributed heavy lifting stays JVM-side), which merge into the retained
per-group sketch via ``hll_union`` inside the bucketed generational
state store. The merge is a true sketch union — associative, commutative,
idempotent-on-replay ONLY for set-identical inputs — so the epoch guard
(merge_into_bucketed_state(epoch_id=)) makes foreachBatch retries
exactly-once, same contract as the drift monitor's count partials.

State is O(groups) rows × ~2.5 KB (lgConfigK=12, ±~1.6% standard error):
the standing "distinct users per collection, ever" table a 100 TB event
pipeline cannot keep exactly (an exact streaming distinct is O(users)
state) but reads out at any moment with ``hll_sketch_estimate``. The
batch twin over the same events equals the maintained estimate EXACTLY —
HLL union is deterministic on register level, pinned by the equivalence
pytest — so gold readouts can switch between the lake rollup and the
live monitor without reconciliation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.streaming.ingest import (
    merge_into_bucketed_state,
    read_state,
)

HLL_LG_K = 12  # shared with hll_user_rollup: ~2.5 KB per sketch, ~1.6% SE


def _union_sketches(keys: Sequence[str]):
    def fold(sketches: DataFrame) -> DataFrame:
        return sketches.groupBy(*keys).agg(
            F.hll_union_agg("sk").alias("sk"),
            F.sum("n_events").alias("n_events"),
        )

    return fold


def apply_hll_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    keys: Sequence[str],
    value_col: str,
    keep_generations: int = 2,
) -> None:
    """One epoch of the per-group distinct-count monitor (see module
    docstring): fold the batch to per-group sketch partials and union them
    into the state. ``keys`` group the sketches (e.g. event_type or
    collection); ``value_col`` is the counted identity (e.g. user_id)."""
    keys = list(keys)
    delta = batch_df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(HLL_LG_K)).alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    merge_into_bucketed_state(
        delta, state_dir, tuple(keys), _union_sketches(keys),
        keep_generations, epoch_id=epoch_id,
    )


def distinct_counts_from_state(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The maintained readout: one row per group with the HLL estimate and
    the exact event count."""
    st = read_state(spark, state_dir)
    if st is None:
        raise ValueError(f"no committed distinct-count state under {state_dir}")
    keys = [c for c in st.columns if c not in ("sk", "n_events")]
    return st.select(
        *keys,
        F.hll_sketch_estimate("sk").alias("est_distinct"),
        "n_events",
    )
