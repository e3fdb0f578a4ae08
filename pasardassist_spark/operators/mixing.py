"""Corpus mixing-weight computation.

UniMax (Chung, Constant, Garcia et al., "UniMax: Fairer and More
Effective Language Sampling for Large-Scale Multilingual Pretraining",
ICLR 2023): given per-source sizes, a token budget, and an epoch cap C,
allocate the budget as uniformly as possible across sources without
repeating any source more than C times. The paper states it as a greedy
loop; the allocation it computes is exactly the classic WATERFILLING
solution — alloc_i = min(C * s_i, t) with the water level t chosen so
the allocations sum to the budget — which has a closed form over the
cap-sorted prefix sums, so it runs as window math instead of a loop.

Scale: the input here is ONE ROW PER SOURCE (metadata-scale — 20 in the
fixture, thousands at most in production), produced by a corpus-sized
groupBy upstream. The global sort window below is over that tiny frame,
never over data rows — the same bounded-frame exemption as the k-means
centroid and merge tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from pasardassist_spark.tables import local_frame


def unimax_allocation(
    sizes: DataFrame,
    budget: int,
    cap_epochs: int,
    key_col: str = "source",
    size_col: str = "n_tokens",
) -> DataFrame:
    """One row per source: (key, size, cap, alloc, epochs, share).

    ``alloc = min(cap_epochs * size, t)`` where t solves
    ``sum(alloc) = budget``; when the budget exceeds the total capacity
    every source is fully capped (t unbounded) and ``sum(alloc) < budget``
    — the paper's "budget left over" regime. Waterfilling segment search:
    with caps c sorted ascending and prefix sums P, the level in the
    segment after the i-th smallest cap is t_i = (budget - P_i)/(n - i),
    valid iff c_i <= t_i <= c_{i+1}; a c=0 sentinel row makes i=0 a
    plain row instead of a special case. In general position exactly one
    segment is valid; with ties several consecutive candidates compute
    the SAME t, so min() collapses them deterministically.
    """
    s = sizes.select(
        F.col(key_col).alias("k"), F.col(size_col).cast("long").alias("s")
    )
    caps = s.select(
        "k", "s", (F.col("s") * cap_epochs).cast("long").alias("c")
    )
    sentinel = local_frame(
        caps.sparkSession, [(None, 0, 0)], "k string, s long, c long"
    )
    w = W.orderBy("c", "k")
    ranked = (
        caps.unionByName(sentinel)
        .withColumn("rn", F.row_number().over(w) - 1)  # sentinel -> 0
        .withColumn("p", F.sum("c").over(w))
        .withColumn("c_next", F.lead("c").over(w))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy()) - 1)
    )
    t_cand = (F.lit(budget) - F.col("p")) / (F.col("n") - F.col("rn"))
    level = (
        ranked.filter(F.col("rn") < F.col("n"))
        .withColumn("t", t_cand)
        .filter(
            (F.col("c") <= F.col("t"))
            & (F.col("c_next").isNull() | (F.col("t") <= F.col("c_next")))
        )
        .agg(F.min("t").alias("t"))
    )
    alloc = F.when(F.col("t").isNull(), F.col("c").cast("double")).otherwise(
        F.least(F.col("c").cast("double"), F.col("t"))
    )
    return caps.crossJoin(F.broadcast(level)).select(
        F.col("k").alias(key_col),
        F.col("s").alias(size_col),
        F.col("c").alias("cap"),
        F.round(alloc, 2).alias("alloc"),
        F.round(alloc / F.col("s"), 6).alias("epochs"),
        F.round(alloc / F.lit(float(budget)), 6).alias("share"),
    )
