"""Aggregations (SURVEY.md §2.4 A1-A12) bound to the driver test tables.

All money sums use the decimal-exact pattern from functions/money.py so the
result is bit-identical to the DuckDB oracle regardless of partial-agg
order — the property that also makes these jobs rerun-stable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.functions.money import dec2, dec4, small2
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load

# CAST chain shared by every disc_price oracle expression.
_DISC_PRICE_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))"
    " AS DECIMAL(18,4))"
)


def _disc_price() -> F.Column:
    """l_extendedprice * (1 - l_discount), decimal-exact, DECIMAL(18,4)."""
    one_minus = (F.lit(1) - small2("l_discount")).cast("decimal(4,2)")
    return dec4(dec2("l_extendedprice") * one_minus)


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST({_DISC_PRICE_SQL}
               * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))
               AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A12: the canonical multi-aggregate group-by (TPC-H Q1 shape) — the
    reference's per-chain trading-volume / items group-bys
    (app.service.ts:1463-1482) widened to 8 aggregates in one shuffle."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = _disc_price()
    one_plus_tax = (F.lit(1) + small2("l_tax")).cast("decimal(4,2)")
    charge = (disc_price * one_plus_tax).cast("decimal(18,6)")
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(dec2("l_quantity")).cast("double") / n).alias("avg_qty"),
        (F.sum(dec2("l_extendedprice")).cast("double") / n).alias("avg_price"),
        (F.sum(small2("l_discount")).cast("double") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "a3_distinct_buyers",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT o_custkey) AS n_buyers,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def a3_distinct_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: distinct-count — collection owners via distinct('tokenOwner')
    (app.service.ts:1471-1474, db.service.ts:237-242)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "a3_approx_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_buyers,
           TRUE AS approx_within_tol
    FROM orders GROUP BY o_orderstatus
    """,
)
def a3_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 at-scale variant, ORACLE-GATED (r17 VERDICT #2): HLL register
    values are engine-specific, so the raw estimate can't hash-match
    DuckDB — but Spark's HLL is deterministic for fixed data (hash +
    per-register max; merge is a commutative max, so partitioning can't
    change it), which makes `|approx - exact| <= 3*rsd*exact` a
    deterministic certificate (default rsd 0.05 -> 15% tolerance,
    ~9 sigma; observed error here is <2%). The exact count doubles as
    the oracle-checkable payload; production at scale keeps only the
    ``approx_count_distinct`` column."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.approx_count_distinct("o_custkey").alias("_approx"),
        )
        .select(
            "o_orderstatus",
            "n_buyers",
            (
                F.abs(F.col("_approx") - F.col("n_buyers"))
                <= 0.15 * F.col("n_buyers")
            ).alias("approx_within_tol"),
        )
    )


@query(
    "a4_lowest_price",
    oracle="""
    SELECT p_brand, MIN(l_extendedprice) AS lowest_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_returnflag <> 'A'
    GROUP BY p_brand
    """,
)
def a4_lowest_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: min-with-filter — lowest non-cancelled listing price
    (app.service.ts:1484-1489, db.service.ts:256-264)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(F.col("l_returnflag") != "A")
        .groupBy("p_brand")
        .agg(F.min("l_extendedprice").alias("lowest_price"))
    )


@query(
    "a5_latest_event",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 1
    """,
)
def a5_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: latest-row argmax — findOne(sort {timestamp:-1}) for the latest
    platform price (app.service.ts:40-42, 204-209)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@query(
    "a7_earnings_case",
    oracle=f"""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN {_DISC_PRICE_SQL}
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS returned_revenue,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN {_DISC_PRICE_SQL}
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS kept_revenue
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def a7_earnings_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: conditional-sum earnings fold — sum(CASE role/orderType ->
    price - fees | royalty) (app.service.ts:326-341) as a sum(when())
    expression instead of a client-side loop."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = _disc_price()
    zero = F.lit(0).cast("decimal(18,4)")
    return li.groupBy("l_linestatus").agg(
        F.sum(F.when(F.col("l_returnflag") == "R", disc_price).otherwise(zero))
        .cast("double")
        .alias("returned_revenue"),
        F.sum(F.when(F.col("l_returnflag") == "N", disc_price).otherwise(zero))
        .cast("double")
        .alias("kept_revenue"),
    )


@query(
    "a9_event_type_pivot",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
    FROM events GROUP BY user_id
    """,
)
def a9_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: grouped count reshaped to a column-per-value map — attribute
    counts reshaped to {key: {value: count}} (app.service.ts:2377-2392).
    Explicit pivot value list keeps the schema stable (and avoids the
    pivot-discovery extra job at scale)."""
    ev = load(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    piv = ev.groupBy("user_id").pivot("event_type", kinds).agg(F.count(F.lit(1))).na.fill(0, kinds)
    return piv.select("user_id", *[F.col(k).alias(f"n_{k}") for k in kinds])


@query(
    "a10_attribute_counts",
    oracle="""
    SELECT lang, source, COUNT(*) AS n
    FROM documents GROUP BY lang, source
    """,
)
def a10_attribute_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: incremental grouped count — collection_attributes $inc upserts
    (db.service.ts:299-303) recomputed as one group-by (streaming update-mode
    in streaming/ covers the incremental form)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))


@query(
    "a11_collection_stats",
    oracle=f"""
    SELECT s_suppkey, s_name,
           items, owners, trade_volume, lowest_price
    FROM (
        SELECT l_suppkey,
               COUNT(*) AS items,
               COUNT(DISTINCT o_custkey) AS owners,
               CAST(SUM(CASE WHEN l_linestatus = 'F' THEN {_DISC_PRICE_SQL}
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS trade_volume,
               MIN(CASE WHEN l_returnflag <> 'A' THEN l_extendedprice END) AS lowest_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_suppkey
    ) stats JOIN supplier ON l_suppkey = s_suppkey
    """,
)
def a11_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 flagship: the reference's statisticCollectionItems cron runs 4
    queries + 1 RPC per collection every 10 min (tasks.common.ts:124-154,
    db.service.ts:226-274). Here: ONE job, one shuffle — count, distinct
    owners, conditional volume sum, and min price per supplier (stand-in
    collection), then a broadcast join to the supplier dimension."""
    return collection_stats(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "supplier"),
    )


def collection_stats(li: DataFrame, o: DataFrame, s: DataFrame) -> DataFrame:
    """The a11 body over lineitem, orders and supplier frames — plain
    parquet (the registry query) or the bucketed silver tables
    (``sources.lake.a11_collection_stats_bucketed``)."""
    o = o.select("o_orderkey", "o_custkey")
    disc_price = _disc_price()
    zero = F.lit(0).cast("decimal(18,4)")
    stats = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("items"),
            F.countDistinct("o_custkey").alias("owners"),
            F.sum(F.when(F.col("l_linestatus") == "F", disc_price).otherwise(zero))
            .cast("double")
            .alias("trade_volume"),
            F.min(F.when(F.col("l_returnflag") != "A", F.col("l_extendedprice"))).alias(
                "lowest_price"
            ),
        )
    )
    return stats.join(F.broadcast(s), stats.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "items", "owners", "trade_volume", "lowest_price"
    )


@query(
    "a12_wallet_dashboard",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_buyers
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def a12_wallet_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: multi-count dashboards — the reference issues 6 separate counts
    per wallet (app.service.ts:1629-1654, 1999-2026); one conditional-agg
    pass replaces N scans."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    status = F.col("o_orderstatus")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.when(status == "O", 1).otherwise(0)).alias("n_open"),
            F.sum(F.when(status == "F", 1).otherwise(0)).alias("n_filled"),
            F.sum(F.when(status == "P", 1).otherwise(0)).alias("n_pending"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_buyers"),
        )
    )


@query(
    "s5_royalty_fanout",
    oracle="""
    SELECT o_orderkey, income_type, income FROM (
        SELECT o_orderkey, 'sale' AS income_type,
               CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(0.98 AS DECIMAL(4,2)) AS DECIMAL(18,4)) AS DOUBLE) AS income
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'royalty' AS income_type,
               CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(0.02 AS DECIMAL(4,2)) AS DECIMAL(18,4)) AS DOUBLE) AS income
        FROM orders
    )
    """,
)
def s5_royalty_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5: fan-out 1 event -> N income rows — OrderFilled explodes into
    seller income + per-royalty-owner income (sub-tasks.service.ts:353-398).
    explode(array(struct...)) keeps it one narrow JVM-side pass."""
    o = load(spark, sf_dir, "orders")
    price = dec2("o_totalprice")
    sale = dec4(price * F.lit(0.98).cast("decimal(4,2)")).cast("double")
    royalty = dec4(price * F.lit(0.02).cast("decimal(4,2)")).cast("double")
    rows = F.explode(
        F.array(
            F.struct(F.lit("sale").alias("income_type"), sale.alias("income")),
            F.struct(F.lit("royalty").alias("income_type"), royalty.alias("income")),
        )
    )
    return o.select("o_orderkey", rows.alias("r")).select(
        "o_orderkey", F.col("r.income_type").alias("income_type"), F.col("r.income").alias("income")
    )


@query(
    "a9_rarity_map",
    oracle="""
    WITH attrs AS (
        SELECT 'brand' AS trait, p_brand AS value FROM part
        UNION ALL
        SELECT 'type' AS trait, p_type AS value FROM part
    ),
    counts AS (SELECT trait, value, COUNT(*) AS cnt FROM attrs GROUP BY 1, 2)
    SELECT trait,
           COUNT(*) AS n_values,
           '{' || string_agg('"' || value || '":' || cnt, ',' ORDER BY value) || '}'
               AS dist
    FROM counts GROUP BY trait
    """,
)
def a9_rarity_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (map reshape): rows (trait, value, count) folded back into the
    reference's `{key: {value: count}}` attribute-rarity shape
    (app.service.ts:2377-2392) via map_from_entries(collect_list(...)),
    serialized with a deterministic key order (array_sort before
    map_from_entries) so the JSON is hash-comparable across engines. The
    MapType attributes column itself is exploded with explode(map) — the F6
    fixture's map is the input, not flat columns."""
    from pasardassist_spark.queries.relational import part_attributes

    p = part_attributes(load(spark, sf_dir, "part"))
    attrs = p.select(F.explode("attributes").alias("trait", "value"))
    counts = attrs.groupBy("trait", "value").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy("trait").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.to_json(
            F.map_from_entries(F.array_sort(F.collect_list(F.struct("value", "cnt"))))
        ).alias("dist"),
    )


@query(
    "a13_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99,
           MAX(value) AS vmax
    FROM events GROUP BY event_type
    """,
)
def a13_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event class — a capability the
    reference lacks entirely (Mongo pre-5.2 had no $percentile; dashboards
    show only sums/counts). Spark's exact `percentile` matches DuckDB's
    quantile_cont semantics (linear interpolation), so the whole
    distribution summary is oracle-checkable. At 100 TB swap to
    approx_percentile (t-digest) — same query shape, bounded error."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
        F.max("value").alias("vmax"),
    )


A13_APPROX_ACC = 10_000


def approx_percentiles(ev: DataFrame) -> DataFrame:
    """The raw 100 TB operator: approx_percentile buffers a bounded
    sketch per group instead of every value, so executor memory is
    O(accuracy), not O(rows/group). Same output shape as the exact
    a13_percentiles twin; rank error <= n/accuracy."""
    acc = A13_APPROX_ACC
    return ev.groupBy("event_type").agg(
        F.expr(f"approx_percentile(value, 0.5, {acc})").alias("p50"),
        F.expr(f"approx_percentile(value, 0.9, {acc})").alias("p90"),
        F.expr(f"approx_percentile(value, 0.99, {acc})").alias("p99"),
        F.max("value").alias("vmax"),
    )


@query(
    "a13_percentiles_approx",
    oracle="""
    SELECT event_type,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok,
           MAX(value) AS vmax
    FROM events GROUP BY event_type
    """,
)
def a13_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx-percentile twin, ORACLE-GATED via the rank-tolerance
    bracket (r17 VERDICT #2): approx_percentile's published guarantee is
    an actual data value whose RANK is within n/accuracy of the target,
    so the exact interpolated percentiles at q -/+ delta (delta = 0.02
    >> 1/accuracy + 1/n at every test SF) bracket any conforming answer
    — `approx BETWEEN exact(q-delta) AND exact(q+delta)` is a
    deterministic certificate a SQL oracle can pin as literal TRUE.
    vmax is exact on both sides. Production runs the approx-only raw
    form (approx_percentiles above); the tighter 1/accuracy rank bound
    stays pytest-pinned (tests/test_oracle_parity.py)."""
    ev = load(spark, sf_dir, "events")
    acc = A13_APPROX_ACC
    d = 0.02
    pct = F.expr(
        "percentile(value, array("
        f"{0.5 - d}, {0.5 + d}, {0.9 - d}, {0.9 + d}, {0.99 - d}, 1.0))"
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr(f"approx_percentile(value, 0.5, {acc})").alias("_p50"),
            F.expr(f"approx_percentile(value, 0.9, {acc})").alias("_p90"),
            F.expr(f"approx_percentile(value, 0.99, {acc})").alias("_p99"),
            pct.alias("_b"),
            F.max("value").alias("vmax"),
        )
        .select(
            "event_type",
            F.col("_p50").between(F.col("_b")[0], F.col("_b")[1])
            .alias("p50_ok"),
            F.col("_p90").between(F.col("_b")[2], F.col("_b")[3])
            .alias("p90_ok"),
            F.col("_p99").between(F.col("_b")[4], F.col("_b")[5])
            .alias("p99_ok"),
            "vmax",
        )
    )


@query(
    "a6_salted_latest_per_type",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM (
        SELECT event_id, ts, user_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def a6_salted_latest_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 under deliberate skew: latest event per event_type — ~5 distinct
    keys over the whole events table, the exact hot-key shape where the
    window form funnels everything into ~5 tasks. Runs the two-phase
    salted argmax (operators/skew.salted_latest_per_key): partial max_by
    per (key, salt) then final max_by over n_salts partials — every task
    bounded at rows/(keys x salts), two cheap shuffles instead of one
    skewed one. The oracle is the window form — the equivalence IS the
    correctness claim (max_by over a total order is associative)."""
    from pasardassist_spark.operators.skew import salted_latest_per_key

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return salted_latest_per_key(
        ev, ["event_type"], F.struct(F.col("ts"), F.col("event_id"))
    )
