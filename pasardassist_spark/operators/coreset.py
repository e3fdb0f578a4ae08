"""k-center coreset selection (Gonzalez 1985 farthest-point greedy; the
data-selection use is Sener & Savarese, ICLR 2018) — pick k rows whose
embedding balls cover the corpus with (provably) at most twice the
optimal k-center radius. The diversity-driven complement to the
similarity machinery in operators/similarity.py: SemDeDup REMOVES
near-duplicate regions, k-center KEEPS a maximally spread subset.

Distributed shape: the greedy is inherently sequential in k, so the
operator runs k rounds, each one map-only work plus a 1-row TakeOrdered:

- the running ``min distance to any chosen center`` column is maintained
  INCREMENTALLY — each round computes the distance to only the newest
  center (a JVM ``zip_with``/``aggregate`` against a literal array, no
  UDF) and folds it with ``least``, so total work is O(k * n * d), not
  O(k^2 * n * d);
- the next center is ``ORDER BY min_dist DESC, id ASC LIMIT 1`` — a
  TakeOrdered reduction (never a full sort), ties broken by id so the
  selection sequence is deterministic;
- lineage is cut with localCheckpoint every few rounds (the BPE-trainer
  pattern) — the frame would otherwise grow two ops per round.

At 100 TB: k full map passes is the honest cost of the exact greedy —
production runs it on a pre-reduced pool (a per-cluster sample or IVF
representatives, both available in operators/similarity.py) and k in the
tens; both knobs compose with this operator unchanged. The 2-approx
guarantee, cluster coverage, radius monotonicity, and equality with a
sequential reference are pytest-pinned (tests/test_coreset.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.tables import local_frame

CHECKPOINT_EVERY = 4


def _sq_dist_to(vec_col: str, center: list[float]) -> F.Column:
    lit = F.array(*[F.lit(float(v)) for v in center])
    return F.aggregate(
        F.zip_with(F.col(vec_col), lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kcenter_greedy(
    df: DataFrame, vec_col: str, id_col: str, k: int
) -> list[tuple[int, int, float]]:
    """Selection sequence [(rank, id, radius_before)] where radius_before
    is the corpus coverage radius (max over rows of min distance to the
    already-chosen centers) at the moment this center was picked —
    non-increasing by construction; 0.0 for the seed row."""
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).cache()
    try:
        seed_rows = base.orderBy("_id").limit(1).collect()
        if not seed_rows:
            raise ValueError("kcenter_greedy needs at least 1 row")
        seed = seed_rows[0]
        chosen: list[tuple[int, int, float]] = [(1, seed._id, 0.0)]
        center = list(seed._vec)
        state = base.withColumn("_mind", F.lit(float("inf")))
        for r in range(2, k + 1):
            state = state.withColumn(
                "_mind", F.least("_mind", _sq_dist_to("_vec", center))
            )
            if r % CHECKPOINT_EVERY == 0:
                state = state.localCheckpoint(eager=False)
            far = (
                state.orderBy(F.desc("_mind"), F.asc("_id")).limit(1).collect()[0]
            )
            if far._mind == 0.0:
                break  # every point coincides with a chosen center (k > the
                # number of distinct vectors) — further picks would duplicate
            chosen.append((r, far._id, math.sqrt(far._mind)))
            center = list(far._vec)
        return chosen
    finally:
        # executor memory is released on return (the kcore/wordpiece
        # unpersist discipline); localCheckpoint RDDs die with lineage GC
        base.unpersist()


def kcenter_table(
    spark: SparkSession, df: DataFrame, vec_col: str, id_col: str, k: int
) -> DataFrame:
    rows = [
        (rank, int(i), round(rad, 6))
        for rank, i, rad in kcenter_greedy(df, vec_col, id_col, k)
    ]
    return local_frame(
        spark, rows, schema="rank INT, center_id BIGINT, radius_before DOUBLE"
    )
