"""Bucketed-table layout tests: the co-located join must plan with NO
shuffle on either side, and results must equal the plain join."""

from __future__ import annotations

from pyspark.sql import functions as F

from pasardassist_spark.plans import plan, shuffle_count
from pasardassist_spark.sources.lake import write_bucketed
from pasardassist_spark.tables import load


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    # managed tables land in the session's default warehouse dir
    # (spark-warehouse/ under cwd, gitignored); dropped at the end.
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    write_bucketed(o, "bkt_orders", ["o_orderkey"], 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "bkt_lineitem", ["o_orderkey"], 8
    )

    bo, bl = spark.table("bkt_orders"), spark.table("bkt_lineitem")
    joined = bo.join(bl, "o_orderkey").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    p = plan(joined)
    # the join itself consumes bucket partitioning in place: the only
    # allowed Exchange is the tiny post-join aggregation shuffle
    assert shuffle_count(p) <= 1, p

    plain = o.join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
    ).groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    got = {(r.o_orderstatus, r.n) for r in joined.collect()}
    want = {(r.o_orderstatus, r.n) for r in plain.collect()}
    assert got == want

    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_silver_bucketed_query_variants(spark, sf_dir):
    """The bench's silver-layout paths: j2 on lineitem bucketed by
    (l_partkey, l_suppkey) plans with ZERO Exchange (group-by and self-join
    both consume the bucketing); a11's lineitem⋈orders join is Exchange-free
    (asserted with broadcast disabled — the 100 TB regime where neither fact
    side broadcasts), leaving only the l_suppkey aggregation's two distinct
    shuffles. Results must equal the plain-parquet queries."""
    from pasardassist_spark.queries.aggregates import a11_collection_stats
    from pasardassist_spark.queries.relational import j2_composite_key
    from pasardassist_spark.sources.lake import (
        a11_collection_stats_bucketed,
        j2_composite_key_bucketed,
        prepare_silver,
    )

    prepare_silver(spark, sf_dir)
    try:
        j2b = j2_composite_key_bucketed(spark, sf_dir)
        assert shuffle_count(plan(j2b)) == 0, plan(j2b)
        assert {tuple(r) for r in j2b.collect()} == {
            tuple(r) for r in j2_composite_key(spark, sf_dir).collect()
        }

        bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            nb = shuffle_count(plan(a11_collection_stats_bucketed(spark, sf_dir)))
            np = shuffle_count(plan(a11_collection_stats(spark, sf_dir)))
            # join contributes 0 Exchanges bucketed vs 2 plain; the distinct
            # agg's 2 are layout-independent
            assert nb == 2 and np == 4, (nb, np)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        a11b = a11_collection_stats_bucketed(spark, sf_dir)
        assert {tuple(r) for r in a11b.collect()} == {
            tuple(r) for r in a11_collection_stats(spark, sf_dir).collect()
        }
    finally:
        for t in (
            "silver_orders_by_ok",
            "silver_lineitem_by_ok",
            "silver_lineitem_by_ps",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_prepare_silver_leaves_load_on_parquet(spark, sf_dir):
    """prepare_silver only writes catalog tables: load() keeps scanning the
    sf_dir parquet files — no silver table, no bucket spec in its plan."""
    from pasardassist_spark.sources.lake import prepare_silver

    prepare_silver(spark, sf_dir)
    try:
        for name in ("orders", "lineitem"):
            p = plan(load(spark, sf_dir, name))
            assert f"{sf_dir}/{name}.parquet]" in p, p
            assert "silver_" not in p, p
            assert "Bucketed" not in p and "SelectedBucketsCount" not in p, p
    finally:
        for t in (
            "silver_orders_by_ok",
            "silver_lineitem_by_ok",
            "silver_lineitem_by_ps",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_date_partition_pruning(spark, sf_dir, tmp_path):
    import re

    from pasardassist_spark.sources.lake import write_date_partitioned

    ev = load(spark, sf_dir, "events")
    path = str(tmp_path / "bronze_events")
    write_date_partitioned(ev, path)

    one_day = ev.select(F.to_date("ts").alias("d")).distinct().orderBy("d").first().d
    q = spark.read.parquet(path).filter(F.col("event_date") == one_day)
    p = plan(q)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "event_date" in m.group(1), p  # predicate became dir pruning
    # pruned read returns exactly that day's rows
    want = ev.filter(F.to_date("ts") == one_day).count()
    assert q.count() == want and want > 0


def test_zorder_prunes_multicolumn_better_than_single_sort(spark, tmp_path):
    """Write a synthetic fact frame (a) sorted by user_id alone and (b)
    Morton z-ordered on (user_id, d); a 2-dim box predicate must overlap a
    strictly smaller fraction of row groups under the z-layout — the
    stats-based skipping win the layout exists for. Synthetic size is
    fixed so the row-group count is scale-factor-independent."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.zorder import (
        rowgroups_overlapping,
        write_zordered,
        zorder_value,
    )

    ev = spark.range(60000).select(
        (F.col("id") % 600).alias("user_id"),
        (F.crc32(F.col("id").cast("string")) % 30 + 1).cast("long").alias("d"),
        (F.col("id") % 1000).cast("double").alias("value"),
    )
    single = str(tmp_path / "single")
    zpath = str(tmp_path / "zord")
    (
        ev.repartitionByRange(20, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)
        .parquet(single)
    )
    # 60 z-files (~1000 rows each): a z-contiguous chunk of that size spans
    # a quadtree block whose d-extent is < half the d domain, so the d-band
    # pruning assertion below holds from FILE-level stats alone — whether or
    # not the parquet writer splits a file into multiple 64 KB row groups
    # (that split is heuristic: the size check runs every N records against
    # an encoded-size estimate, so small dictionary-encoded files can land
    # in one row group and would make a 20-file layout unprunable on d).
    write_zordered(ev, zpath, [F.col("user_id"), F.col("d")], bits=12, n_files=60)

    assert rowgroups_overlapping(single, {})[1] > 2, "too few row groups"
    assert rowgroups_overlapping(zpath, {})[1] > 2, "too few row groups"

    # Secondary-dimension predicate: the user-sorted layout cannot prune on
    # d at all (every file spans all days); the z-layout must.
    dband = {"d": (5, 8)}
    m_single, t_single = rowgroups_overlapping(single, dband)
    m_z, t_z = rowgroups_overlapping(zpath, dband)
    assert m_single == t_single, "user-sort unexpectedly pruned on d"
    assert m_z / t_z < 0.75, f"z-order pruned nothing on d: {m_z}/{t_z}"

    # Wide 2-dim box: half the users x a fifth of the days — the z-layout
    # must beat the single-sort layout (which can only prune the user half).
    box = {"user_id": (0, 299), "d": (5, 10)}
    m_single, t_single = rowgroups_overlapping(single, box)
    m_z, t_z = rowgroups_overlapping(zpath, box)
    assert m_z / t_z < m_single / t_single, (
        f"z-order did not improve 2-dim pruning: {m_z}/{t_z} vs {m_single}/{t_single}"
    )

    # determinism / correctness: the z expression is pure column math
    a = ev.withColumn("z", zorder_value([F.col("user_id"), F.col("d")], 12))
    assert a.where(F.col("z") < 0).count() == 0


def test_cdc_diff_on_bucketed_snapshots_is_exchange_free(spark, sf_dir):
    """The CDC full-outer PK diff consumes a bucketed-by-PK layout with
    ZERO Exchange (cdc_snapshot_diff's documented scale path): both
    snapshot filters preserve the orders table's orderkey bucketing, so
    the join reads buckets in place."""
    import re

    from pyspark.sql import functions as F

    from pasardassist_spark.sources.lake import prepare_silver

    prepare_silver(spark, sf_dir)
    o = spark.table("silver_orders_by_ok")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    a = o.where(F.col("o_orderdate") < "1998-01-01").select(
        "o_orderkey", price.alias("price")
    )
    b = o.where(F.col("o_orderdate") >= "1996-01-01").select(
        "o_orderkey", price.alias("price")
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert not re.search(r"Exchange hashpartitioning", p), (
        "bucketed CDC diff still shuffles"
    )
