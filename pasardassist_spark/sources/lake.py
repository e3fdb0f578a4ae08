"""Lake layout: bucketed silver tables for shuffle-free joins (SURVEY.md §4).

At 100 TB the recurring cost in the reference's query mix is the fact–fact
join (orders ⋈ lineitem-shaped: every marketplace listing joins orders to
tokens on the same key, every stats job re-joins the same tables). Writing
both sides bucketed BY THE JOIN KEY makes that join shuffle-free forever:
Spark's scan planner exposes the bucket hash-partitioning, so SortMergeJoin
consumes both sides in place — no Exchange on either side, verified by
``tests/test_lake.py`` against the physical plan.

Bucket count is the knob that must be chosen at write time: at 100 TB,
buckets ≈ total-data / target-partition-size (e.g. 100 TB / 256 MB ≈ 400k is
too many files per table — in practice bucket the HOT silver tables at
O(10k) and let AQE coalesce reads). Local tests use 8.

``saveAsTable`` goes through the session catalog (in-memory here, Hive/Glue
on a cluster); plain ``.parquet()`` paths cannot carry bucket metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame, table: str, bucket_cols: list[str], n_buckets: int = 8
) -> None:
    """Write ``df`` as a bucketed, sorted managed table. Sorting within
    buckets by the join key lets SortMergeJoin skip its sort too."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


# --- standing silver layout for the hot fact-fact paths ---------------------
#
# The two slowest warm queries in the bench (a11_collection_stats and
# j2_composite_key) are both fact⋈fact joins that re-shuffle the same tables
# every run. On a real lake the silver layer is WRITTEN bucketed by the join
# key once, and every subsequent query consumes the bucketing in place —
# amortized across thousands of runs, which is exactly the reference's cron
# workload shape (statisticCollectionItems every 10 min). prepare_silver
# materializes that layout as catalog tables; a consumer reads one by name
# with ``spark.table("silver_…")``. ``tables.load()`` never substitutes
# them: the registry queries read plain parquet, and the ``*_bucketed``
# functions below feed the silver frames into the same query bodies, so the
# bench times both layouts side by side.

SILVER_BUCKETS = 8  # local test knob; O(10k) at 100 TB, AQE coalesces reads


def _reset_silver(spark: SparkSession, tables: tuple[str, ...]) -> None:
    """Drop catalog entries AND their warehouse dirs: a fresh session's
    in-memory catalog doesn't know tables a previous process wrote, but
    their warehouse dirs persist and block saveAsTable."""
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if warehouse:
            shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)


def prepare_silver(spark: SparkSession, sf_dir: str) -> None:
    """One-time silver write of ``sf_dir``'s facts as three catalog tables:
    ``silver_orders_by_ok`` and ``silver_lineitem_by_ok`` bucketed by
    orderkey (the a11 join key), and ``silver_lineitem_by_ps`` bucketed by
    (partkey, suppkey) (the j2 self-join and group key). Idempotent per
    session. Read them by name with ``spark.table``; ``tables.load()`` keeps
    reading the plain parquet files."""
    _reset_silver(
        spark, ("silver_orders_by_ok", "silver_lineitem_by_ok", "silver_lineitem_by_ps")
    )

    from pasardassist_spark.tables import load

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    write_bucketed(o, "silver_orders_by_ok", ["o_orderkey"], SILVER_BUCKETS)
    write_bucketed(li, "silver_lineitem_by_ok", ["l_orderkey"], SILVER_BUCKETS)
    write_bucketed(
        li, "silver_lineitem_by_ps", ["l_partkey", "l_suppkey"], SILVER_BUCKETS
    )


def a11_collection_stats_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a11 on the silver layout: the lineitem⋈orders join consumes bucket
    partitioning in place (zero Exchange on the join — plan-tested)."""
    from pasardassist_spark.queries.aggregates import collection_stats
    from pasardassist_spark.tables import load

    li, o = spark.table("silver_lineitem_by_ok"), spark.table("silver_orders_by_ok")
    return collection_stats(li, o, load(spark, sf_dir, "supplier"))


def j2_composite_key_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j2 on lineitem bucketed by (l_partkey, l_suppkey): the group-by and
    the self-join both consume the bucketing — zero Exchange."""
    from pasardassist_spark.queries.relational import composite_key_join

    return composite_key_join(spark.table("silver_lineitem_by_ps"))


# --- entity silver: the API layer's default read path -----------------------
#
# The API's hottest derived frame is collection_stats (tokens grouped by
# (chain, contract) joined to orders grouped by (chain, baseToken) — the
# reference recomputes it on a 10-min cron, tasks.common.ts:124-154), and
# collections_list re-runs it per request. Bucketing BOTH entity tables by
# those exact keys makes the whole stats pipeline Exchange-free: the
# group-bys consume the bucket partitioning (HashAggregate is alias-aware,
# so baseToken->contract renames preserve it) and the stats join co-locates.
# Plan-tested in tests/test_api_silver.py.

ENTITY_SILVER = {
    "silver_tokens": ["chain", "contract"],
    "silver_orders": ["chain", "baseToken"],
}


def prepare_entity_silver(
    spark: SparkSession, tokens: DataFrame, orders: DataFrame
) -> None:
    """Write the API entity frames as the bucketed silver layout. One-time
    (per ingest generation) on a real lake; idempotent per session here."""
    _reset_silver(spark, tuple(ENTITY_SILVER))
    for table, df in (("silver_tokens", tokens), ("silver_orders", orders)):
        write_bucketed(df, table, ENTITY_SILVER[table], SILVER_BUCKETS)


def write_date_partitioned(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Bronze layout: events partitioned by event date (the reference
    domain's natural pruning axis — every dashboard query carries a time
    bound). A day-bounded query then reads ONLY its partitions' files:
    Catalyst turns the `event_date` predicate into a PartitionFilter
    (directory pruning at planning time, no file footers touched) —
    asserted in tests/test_lake.py."""
    from pyspark.sql import functions as F

    (
        df.withColumn("event_date", F.to_date(F.col(ts_col)))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
