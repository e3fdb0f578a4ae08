"""latest_per_key — the reference's single most important composite operator.

Mongo shape: ``$sort createTime desc -> $group {_id: key, doc: {$first:
'$$ROOT'}} -> $replaceRoot`` (reference src/modules/app/app.service.ts:172-185
and ~6 more sites; SURVEY.md §2.3 J3 / §2.4 A6). Used to join each token to
its most recent order, to maintain entity state from an event log, etc.

Spark shape: ``row_number() OVER (PARTITION BY keys ORDER BY order desc)``
then ``rn == 1``. Mongo's $first-after-sort is nondeterministic on ties; we
require the caller to pass a total order (tie-break columns), which the
oracles document.

Scale notes (100 TB): this is a single hash-shuffle on the key columns; AQE
skew-join/partition-split handles hot keys. When the downstream consumer
joins on the same keys, the shuffle is reused (same hash partitioning), so
latest_per_key + join costs one shuffle of the big side, not two. Hot keys
do not reach that shuffle whole: for ``row_number() = 1`` Spark 4 plans a
partial ``WindowGroupLimit`` before the exchange (each map task keeps its
local top row per key) and a final one after it, so a key ships at most
one row per map task however many events it owns
(tests/test_plans.py pins both nodes in the executed plan).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

_ROWNUM = "__rn"


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
) -> DataFrame:
    """Keep exactly one row per distinct ``keys``: the first under ``order``.

    ``order`` must be a total order within each key group (add tie-break
    columns) or the result is nondeterministic — same caveat the reference
    silently ignores (SURVEY.md §7 "latest-per-key ties").
    """
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(_ROWNUM, F.row_number().over(w))
        .filter(F.col(_ROWNUM) == 1)
        .drop(_ROWNUM)
    )


def top_k_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-k rows per key group (reference getRecentOnSale: 5 newest Created
    orders per collection — app.service.ts:371-396)."""
    w = W.partitionBy(*keys).orderBy(*order)
    out = df.withColumn(_ROWNUM, F.row_number().over(w)).filter(F.col(_ROWNUM) <= k)
    if rank_col:
        return out.withColumnRenamed(_ROWNUM, rank_col)
    return out.drop(_ROWNUM)
