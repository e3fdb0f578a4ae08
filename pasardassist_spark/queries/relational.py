"""Projections, filters, joins, sorts, pagination, unions (SURVEY.md §2.2,
§2.3, §2.6, §2.7) bound to the driver test tables per FIXTURES.md §B.

Reference citations are in each docstring; the Spark construct is the
idiomatic mapping from SURVEY.md, not a translation of the Mongo pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.operators.latest import latest_per_key, top_k_per_key
from pasardassist_spark.operators.pagination import count_and_page, paginate
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load, local_frame


# ---------------------------------------------------------------------------
# P1-P3: projection include/exclude, rename, computed column
# ---------------------------------------------------------------------------
@query(
    "p_project_compute",
    oracle="""
    SELECT o_orderkey,
           o_totalprice AS price,
           o_orderpriority || '-' || o_orderstatus AS tag
    FROM orders
    """,
)
def p_project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P3: $project include + alias ('price': '$filled',
    app.service.ts:350) + $addFields concat key (app.service.ts:628)."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.concat_ws("-", "o_orderpriority", "o_orderstatus").alias("tag"),
    )


# ---------------------------------------------------------------------------
# F1-F6: equality/membership, range, inequality, boolean composition,
# substring search
# ---------------------------------------------------------------------------
@query(
    "f_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
           l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
      AND l_linestatus <> 'O'
      AND l_quantity >= 10 AND l_quantity < 40
      AND (l_discount > 0.05 OR l_tax < 0.03)
      AND l_shipdate >= TIMESTAMP '1995-01-01'
    """,
)
def f_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4: $in + $ne + $gte/$lt range + nested $or composition
    (app.service.ts:611-649). All predicates push to the parquet scan."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_linestatus") != "O")
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") < 40)
        & ((F.col("l_discount") > 0.05) | (F.col("l_tax") < 0.03))
        & (F.col("l_shipdate") >= "1995-01-01")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
    )


@query(
    "f_keyword_search",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE instr(lower(p_name), 'gre') > 0 OR instr(lower(p_brand), 'gre') > 0
    """,
)
def f_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: case-insensitive keyword regex over name/description fields
    (app.service.ts:657-664, 1275-1283)."""
    p = load(spark, sf_dir, "part")
    kw = "gre"
    return p.filter(
        (F.instr(F.lower("p_name"), kw) > 0) | (F.instr(F.lower("p_brand"), kw) > 0)
    ).select("p_partkey", "p_name", "p_brand")


@query(
    "f8_key_tuples",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
    FROM lineitem
    WHERE (l_orderkey = 1 AND l_linenumber = 1)
       OR (l_orderkey = 2 AND l_linenumber = 1)
       OR (l_orderkey = 3 AND l_linenumber = 2)
       OR (l_orderkey = 10 AND l_linenumber = 1)
       OR (l_orderkey = 42 AND l_linenumber = 1)
    """,
)
def f8_key_tuples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: existence by composite key-list — find({$or: [{tokenId,chain,
    contract}, ...]}) (app.service.ts:388-398). Implemented as a broadcast
    semi-join against a literal key DataFrame, which scales to key lists far
    beyond what an OR-chain predicate could."""
    li = load(spark, sf_dir, "lineitem")
    keys = local_frame(
        spark,
        [(1, 1), (2, 1), (3, 2), (10, 1), (42, 1)],
        "l_orderkey long, l_linenumber int",
    )
    return li.join(F.broadcast(keys), ["l_orderkey", "l_linenumber"], "left_semi").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# J1-J7: joins
# ---------------------------------------------------------------------------
@query(
    "j1_orders_customer",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
)
def j1_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: single-key left outer $lookup+$unwind (app.service.ts:446-454).
    Customer is dimension-sized -> broadcast, no shuffle of the fact side."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@query(
    "j2_composite_key",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, g.ps_qty
    FROM lineitem l
    JOIN (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ps_qty
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ) g ON l.l_partkey = g.l_partkey AND l.l_suppkey = g.l_suppkey
    WHERE g.ps_qty > 100
    """,
)
def j2_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: composite-key equi-join — order_events ⟕ orders on (chain,
    baseToken, orderId) (app.service.ts:866-896). Both sides hash-partition
    on the same composite key: one shuffle, reused by the join."""
    return composite_key_join(load(spark, sf_dir, "lineitem"))


def composite_key_join(li: DataFrame) -> DataFrame:
    """The j2 body over a lineitem frame — plain parquet (the registry
    query) or silver bucketed by (l_partkey, l_suppkey)
    (``sources.lake.j2_composite_key_bucketed``)."""
    g = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("ps_qty")
    )
    return (
        li.join(g, ["l_partkey", "l_suppkey"])
        .filter(F.col("ps_qty") > 100)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "ps_qty")
    )


@query(
    "j3_latest_order_per_customer",
    oracle="""
    SELECT c_custkey, c_name,
           o.o_orderkey AS last_orderkey,
           o.o_orderdate AS last_orderdate,
           o.o_totalprice AS last_totalprice
    FROM customer
    LEFT JOIN (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC
        ) AS rn
        FROM orders
    ) o ON c_custkey = o.o_custkey AND o.rn = 1
    """,
)
def j3_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/A6 keystone: latest-per-key then join — each token joined to its
    most recent order via $sort/$group $first/$replaceRoot
    (app.service.ts:172-185 and 5 more sites). Total order: createTime DESC
    then orderId DESC (ties documented, SURVEY.md §7)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    latest = latest_per_key(
        o, ["o_custkey"], [F.desc("o_orderdate"), F.desc("o_orderkey")]
    )
    return c.join(latest, c.c_custkey == latest.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
        F.col("o_totalprice").alias("last_totalprice"),
    )


@query(
    "j4_customers_no_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def j4_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: anti-join — tokens with no orders via $lookup + $match $size 0
    (app.service.ts:461-471)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "j5_sale_flags",
    oracle="""
    SELECT c_custkey,
           MAX(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS has_open,
           MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS has_filled,
           COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def j5_sale_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: semi-join existence flags — checkFirstSale derives isOnSale /
    isFirstSale from each token's order history (app.service.ts:2268-2318).
    One left join + conditional-max aggregation instead of per-row lookups."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.max(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("has_open"),
            F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("has_filled"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@query(
    "j6_region_rollup",
    oracle="""
    SELECT r_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j6_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: broadcast dimension joins — Redis collection-name / token-rate maps
    applied as client-side hash joins (app.service.ts:369-402, 1969-1985).
    nation/region are broadcast; the only shuffle is the final group-by."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# O1-O4: sorts, top-k, pagination
# ---------------------------------------------------------------------------
@query(
    "o1_sort_multikey",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 50
    """,
)
def o1_sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: multi-variant sort selector (7-9 sort keys incl. joined columns,
    app.service.ts:56-147). Total order: tie-break on the primary key."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.asc("o_orderpriority"), F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
    )


@query(
    "o2_pagination",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10 OFFSET 20
    """,
)
def o2_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: sort+skip+limit pagination (app.service.ts:226-228, 594-598);
    pageSize <= 50 bound in QueryPageDTO.ts:3-10."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return paginate(o, [F.desc("o_totalprice"), F.asc("o_orderkey")], page_num=3, page_size=10)


@query(
    "o3_top5_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rank
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rank
        FROM orders
    ) WHERE rank <= 5
    """,
)
def o3_top5_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-5 newest Created orders per collection
    (getRecentOnSale, app.service.ts:371-396)."""
    o = load(spark, sf_dir, "orders")
    top = top_k_per_key(
        o,
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=5,
        rank_col="rank",
    )
    return top.select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")


@query(
    "o4_count_and_page",
    oracle="""
    SELECT o_orderkey, o_totalprice, total
    FROM (
        SELECT o_orderkey, o_totalprice, COUNT(*) OVER () AS total
        FROM orders
        WHERE o_orderstatus = 'O'
    )
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10 OFFSET 0
    """,
)
def o4_count_and_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: two-phase count+page collapsed to one pass — the reference runs
    the whole pipeline twice (app.service.ts:738-754); here count(*) OVER ()
    rides along with the page."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_totalprice"
    )
    return count_and_page(
        o, [F.desc("o_totalprice"), F.asc("o_orderkey")], page_num=1, page_size=10
    )


# ---------------------------------------------------------------------------
# U1-U2: unions
# ---------------------------------------------------------------------------
@query(
    "u1_union_timeline",
    oracle="""
    SELECT id, ts, src, value FROM (
        SELECT event_id AS id, ts, 'event' AS src, value FROM events
        UNION ALL
        SELECT o_orderkey AS id, o_orderdate AS ts, 'order' AS src,
               o_totalprice AS value
        FROM orders
    )
    ORDER BY ts DESC, src ASC, id ASC
    LIMIT 100
    """,
)
def u1_union_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union of heterogeneous streams + global re-sort + page —
    order_events ∪ token_events merged into one activity timeline
    (app.service.ts:966-971, 1172-1175, 2209-2214)."""
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        "ts",
        F.lit("event").alias("src"),
        "value",
    )
    od = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderdate").alias("ts"),
        F.lit("order").alias("src"),
        F.col("o_totalprice").alias("value"),
    )
    return (
        ev.unionByName(od)
        .orderBy(F.desc("ts"), F.asc("src"), F.asc("id"))
        .limit(100)
    )


@query(
    "u2_single_pass_classes",
    oracle="""
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'warm'
                ELSE 'cold' END AS klass,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def u2_single_pass_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: client-side subtraction (otherTokenCount = total - native - pasar,
    app.service.ts:2339-2348) replaced by a single classify-and-count pass."""
    o = load(spark, sf_dir, "orders")
    klass = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hot")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "warm")
        .otherwise("cold")
    )
    return o.groupBy(klass.alias("klass")).agg(F.count(F.lit(1)).alias("n"))


def part_attributes(df: DataFrame) -> DataFrame:
    """F6 fixture: a real MapType attributes column (trait -> value), the
    NFT attribute map the reference stores per token
    (app.service.ts:1521-1526 filters `attributes.<key> $in [...]`)."""
    return df.withColumn(
        "attributes",
        F.create_map(
            F.lit("brand"), F.col("p_brand"),
            F.lit("type"), F.col("p_type"),
        ),
    )


@query(
    "f6_attribute_filter",
    oracle="""
    SELECT p_partkey, p_name, p_brand AS brand, p_type AS type
    FROM part
    WHERE p_brand IN ('Brand#2', 'Brand#17') AND p_type = 'ECONOMY'
    """,
)
def f6_attribute_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: predicate on a MapType attributes column —
    ``element_at(attributes, key).isin(...)`` is the Spark form of the
    reference's dynamic `attributes.trait_type $in values` match
    (app.service.ts:1521-1526). The map is built then filtered through
    element_at, proving the map path; the oracle checks the selected values
    against the flat columns."""
    p = part_attributes(load(spark, sf_dir, "part"))
    return (
        p.filter(
            F.element_at("attributes", F.lit("brand")).isin("Brand#2", "Brand#17")
            & (F.element_at("attributes", F.lit("type")) == "ECONOMY")
        )
        .select(
            "p_partkey",
            "p_name",
            F.element_at("attributes", F.lit("brand")).alias("brand"),
            F.element_at("attributes", F.lit("type")).alias("type"),
        )
    )


@query(
    "u5_unpivot_metrics",
    oracle="""
    WITH w AS (
        SELECT n_name,
               CAST(COUNT(*) AS DOUBLE) AS n_customers,
               CAST(SUM(c_acctbal) AS DOUBLE) AS sum_acctbal,
               CAST(MAX(c_acctbal) AS DOUBLE) AS max_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    SELECT n_name, 'n_customers' AS metric, n_customers AS value FROM w
    UNION ALL
    SELECT n_name, 'sum_acctbal', sum_acctbal FROM w
    UNION ALL
    SELECT n_name, 'max_acctbal', max_acctbal FROM w
    """,
)
def u5_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long UNPIVOT (melt): per-nation customer metrics pivot from
    one row x 3 metric columns to 3 rows x (metric, value) — the shape
    metric stores and plotting layers want. Spark's native unpivot
    compiles to an Expand node: each input row emits 3 output rows in the
    SAME task, zero added shuffle on top of the one agg exchange (the
    nation dim joins broadcast). The oracle is the UNION ALL expansion —
    an independent formulation, so column->row mapping is differentially
    verified. Money discipline: sum(decimal(15,2)) stays exact through
    the aggregation and casts to double only at the edge, identically on
    both engines."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    wide = (
        cust.join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_customers"),
            F.sum("c_acctbal").cast("double").alias("sum_acctbal"),
            F.max("c_acctbal").cast("double").alias("max_acctbal"),
        )
    )
    return wide.unpivot(
        ["n_name"],
        ["n_customers", "sum_acctbal", "max_acctbal"],
        "metric",
        "value",
    )
