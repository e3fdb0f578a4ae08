"""External price-feed rates dimension (SURVEY.md §2.1 S6).

Reference behavior being replaced: the CoinMarketCap poll (5 min cadence)
and Glide DEX GraphQL rate fetch (1 min) that full-refresh a ``token_rates``
collection (tasks.common.ts:94-122,156-221; sinks db.service.ts:276-280,
305-313 — deleteMany + insertMany per refresh).

Spark shape: a tiny scheduled batch job writes the rates dimension as an
overwrite (the deleteMany+insertMany analog); every consumer joins it with
an explicit ``broadcast()`` — it is O(currencies) rows, never worth a
shuffle. Here the feed is a deterministic derivation from the ``nation``
dimension (one rate per nation, in exact integer centi-units) so the
weighted-volume query is DuckDB-oracle-checkable end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def rates_dim(nation: DataFrame) -> DataFrame:
    """One rate row per nation: ``rate_centi = 101 + n_nationkey`` (i.e.
    1.01x .. 1.25x in exact hundredths — integer, so products stay in
    DecimalType with no division until the output edge)."""
    return nation.select(
        "n_nationkey",
        F.col("n_name").alias("currency"),
        (F.lit(101) + F.col("n_nationkey")).alias("rate_centi"),
    )
