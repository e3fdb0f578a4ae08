"""Time-series trend analytics over the events stream: calendar gap-fill
with LOCF, bounded-window EWMA smoothing, and rolling z-score anomaly
flags.

The reference's dashboards recompute each time grain as its own Mongo
aggregate and leave missing days absent (reference
src/modules/app/app.service.ts:282-317 — the "today's earnings" /
per-day volume family); a charting client then has to densify
client-side. These operators produce the dense, smoothed, and
anomaly-annotated series server-side in one or two shuffles.

Scale notes (100 TB): every query here first collapses raw events to the
(event_type, day) grain — one shuffle over the raw data, after which the
working set is |event_types| x |days| rows (calendar-bounded, thousands,
not billions). The calendar spine is built from a 1-row min/max aggregate
broadcast against the distinct-type dimension, never from the fact table.
Window partitions are per event_type over days, so partition size is
bounded by retention, independent of event volume.

Cross-engine float determinism: all window/group sums run in DecimalType
(exact, order-independent — functions/money.py rationale); doubles appear
only at the output edge through expression trees written identically in
the Spark plan and the DuckDB oracle, then rounded to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pasardassist_spark.functions.money import dec2
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load, local_frame


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day) grain: exact-decimal day_value + row count."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec2("value")).alias("_value_dec"),
    )


_DAILY_SQL = """
        SELECT event_type,
               date_trunc('day', ts) AS day,
               COUNT(*) AS n_events,
               SUM(CAST(value AS DECIMAL(18,2))) AS _value_dec
        FROM events
        GROUP BY 1, 2
"""


@query(
    "ts_gap_fill",
    oracle=f"""
    WITH d AS ({_DAILY_SQL}),
    b AS (
        SELECT min(date_trunc('day', ts)) AS lo,
               max(date_trunc('day', ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT t.event_type,
               unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS day
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN b
    )
    SELECT spine.event_type,
           spine.day,
           COALESCE(d.n_events, 0) AS n_events,
           CAST(d._value_dec AS DOUBLE) AS day_value,
           CAST(last_value(d._value_dec IGNORE NULLS) OVER (
               PARTITION BY spine.event_type ORDER BY spine.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS locf_value
    FROM spine LEFT JOIN d
      ON d.event_type = spine.event_type AND d.day = spine.day
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify the per-type daily series onto a full calendar spine:
    days with no events appear with n_events = 0, day_value NULL, and
    locf_value carrying the last observed day's total forward
    (last-observation-carried-forward via last(ignorenulls) over an
    unbounded preceding frame).

    The spine is sequence(min_day, max_day) exploded from a single-row
    bounds aggregate cross-joined (broadcast) with the distinct types —
    O(types x days), never a scan of the fact table."""
    daily = _daily(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    types = daily.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("_value_dec").cast("double").alias("day_value"),
            F.last("_value_dec", ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("locf_value"),
        )
    )


# EWMA weights 0.5^i are exact powers of two: (decimal -> double) * 2^-i
# is exact in IEEE double, so the only rounding is the final 8-term sum —
# written in the same order in both engines, then rounded to 6 dp.
_EWMA_K = 8
_EWMA_ALPHA = 0.5


def _ewma_sql_terms() -> tuple[str, str]:
    num, den = [], []
    for i in range(_EWMA_K):
        w = _EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i
        lagv = (
            "CAST(v AS DOUBLE)"
            if i == 0
            else f"CAST(LAG(v, {i}) OVER wt AS DOUBLE)"
        )
        num.append(f"COALESCE({lagv} * {w!r}, 0.0)")
        den.append(
            f"CASE WHEN {lagv} IS NULL THEN 0.0 ELSE {w!r} END"
        )
    return " + ".join(num), " + ".join(den)


_EWMA_NUM, _EWMA_DEN = _ewma_sql_terms()


@query(
    "ts_ewma",
    oracle=f"""
    WITH d AS (
        SELECT event_type, day, _value_dec AS v
        FROM ({_DAILY_SQL})
    )
    SELECT event_type, day,
           CAST(v AS DOUBLE) AS day_value,
           round(({_EWMA_NUM}) / ({_EWMA_DEN}), 6) AS ewma
    FROM d
    WINDOW wt AS (PARTITION BY event_type ORDER BY day)
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the per-type daily value,
    truncated to the last K=8 observations (weight alpha*(1-alpha)^i,
    renormalized over the lags actually present, so the series is defined
    from day one). A K-term LAG expression keeps the whole computation
    inside one window over the tiny daily grain — the classic
    unbounded-recursive EWMA is inexpressible as a Spark window, and at
    8 terms the truncation error is (1-alpha)^8 < 0.4%."""
    w = Window.partitionBy("event_type").orderBy("day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i in range(_EWMA_K):
        wt = _EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i
        lagv = (
            F.col("v") if i == 0 else F.lag("v", i).over(w)
        ).cast("double")
        num = num + F.coalesce(lagv * F.lit(wt), F.lit(0.0))
        den = den + F.when(lagv.isNull(), 0.0).otherwise(wt)
    return (
        _daily(spark, sf_dir)
        .select("event_type", "day", F.col("_value_dec").alias("v"))
        .select(
            "event_type",
            "day",
            F.col("v").cast("double").alias("day_value"),
            F.round(num / den, 6).alias("ewma"),
        )
    )


# Rolling z-score: mean/var over the 7 PRECEDING days (current row
# excluded — the point under test must not contaminate its own baseline).
# Sums are exact decimals; mean/var/std derive from them through one
# shared formula string per engine.
_Z_WIN = 7


@query(
    "ts_zscore_anomaly",
    oracle=f"""
    WITH d AS (
        SELECT event_type, day, CAST(_value_dec AS DECIMAL(18,2)) AS v
        FROM ({_DAILY_SQL})
    ),
    s AS (
        SELECT event_type, day, v,
               COUNT(v) OVER wp AS n,
               SUM(v) OVER wp AS s1,
               SUM(CAST(v * v AS DECIMAL(38,4))) OVER wp AS s2
        FROM d
        WINDOW wp AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN {_Z_WIN} PRECEDING AND 1 PRECEDING)
    ),
    sv AS (
        SELECT event_type, day, v, n,
               CAST(s1 AS DOUBLE) AS s1d,
               CASE WHEN n >= 3 THEN
                   (CAST(s2 AS DOUBLE) -
                    CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)
               END AS var
        FROM s
    ),
    sz AS (
        SELECT event_type, day, v, n,
               CASE WHEN var > 0.0 THEN
                   (CAST(v AS DOUBLE) - s1d / n) / sqrt(var)
               END AS z
        FROM sv
    )
    SELECT event_type, day,
           CAST(v AS DOUBLE) AS day_value,
           n AS baseline_days,
           round(z, 6) AS zscore,
           COALESCE(abs(z) > 2.0, FALSE) AS is_anomaly
    FROM sz
    """,
)
def ts_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the per-type daily value: the
    baseline is the trailing 7-day window EXCLUDING the current day, the
    flag fires at |z| > 2 with at least 3 baseline days. Mean and sample
    variance derive from exact decimal window sums (sum v, sum v^2), so
    the result is bit-stable under any partial-aggregation order — the
    property that lets the same query hash-match DuckDB and rerun
    identically on a 1000-executor shuffle."""
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_Z_WIN, -1)
    )
    d = _daily(spark, sf_dir).select(
        "event_type",
        "day",
        F.col("_value_dec").cast("decimal(18,2)").alias("v"),
    )
    # decimal(18,2)^2 -> decimal(37,4): stays under Spark's 38-precision
    # scale-reduction path, so the square (and its window sum) is exact.
    vv = F.col("v") * F.col("v")
    s = d.select(
        "event_type",
        "day",
        "v",
        F.count("v").over(wp).alias("n"),
        F.sum("v").over(wp).alias("s1"),
        F.sum(vv.cast("decimal(38,4)")).over(wp).alias("s2"),
    )
    # ANSI mode: divisions live inside when() guards so n = 0 / n = 1 rows
    # never evaluate them — same layered CASE structure as the oracle.
    n = F.col("n")
    vd = F.col("v").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    sv = s.select(
        "event_type",
        "day",
        "v",
        "n",
        s1d.alias("s1d"),
        F.when(n >= 3, (s2d - s1d * s1d / n) / (n - 1)).alias("var"),
    )
    z = F.when(
        F.col("var") > 0.0,
        (F.col("v").cast("double") - F.col("s1d") / F.col("n"))
        / F.sqrt("var"),
    )
    sz = sv.select("event_type", "day", "v", "n", z.alias("z"))
    return sz.select(
        "event_type",
        "day",
        F.col("v").cast("double").alias("day_value"),
        F.col("n").alias("baseline_days"),
        F.round("z", 6).alias("zscore"),
        F.coalesce(F.abs("z") > 2.0, F.lit(False)).alias("is_anomaly"),
    )


# CUSUM change-point detection. The textbook recursion
# S_t = max(0, S_{t-1} + z_t - k) is not window-expressible, but it has a
# closed form: S_t = C_t - min(0, min_{j<=t} C_j) with C the running sum
# of (z - k) — two stacked cumulative windows. To make the cumulative
# float sums association-free across engines, z is rounded to 6 dp and
# SCALED TO DECIMAL before the window sums; the CUSUM statistic is
# emitted as exact integer micro-units.
_CUSUM_K = "0.500000"  # drift allowance, in z units (decimal literal)
_CUSUM_H_U = 4_000_000  # alarm threshold 4.0 sigma, in micro-units


@query(
    "ts_cusum",
    oracle=f"""
    WITH d AS (
        SELECT event_type, day, CAST(_value_dec AS DECIMAL(18,2)) AS v
        FROM ({_DAILY_SQL})
    ),
    st AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS DOUBLE) AS s1d,
               CAST(SUM(CAST(v * v AS DECIMAL(38,4))) AS DOUBLE) AS s2d
        FROM d GROUP BY event_type
    ),
    z AS (
        SELECT d.event_type, d.day,
               CAST(round(
                   (CAST(v AS DOUBLE) - s1d / n)
                   / sqrt((s2d - s1d * s1d / n) / (n - 1)),
               6) AS DECIMAL(18,6)) AS z6
        FROM d JOIN st ON st.event_type = d.event_type
        WHERE n >= 2 AND (s2d - s1d * s1d / n) / (n - 1) > 0.0
    ),
    c AS (
        SELECT event_type, day, z6,
               SUM(z6 - CAST({_CUSUM_K} AS DECIMAL(18,6))) OVER wc AS cp,
               SUM(-z6 - CAST({_CUSUM_K} AS DECIMAL(18,6))) OVER wc AS cn
        FROM z
        WINDOW wc AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    m AS (
        SELECT event_type, day, z6,
               CASE WHEN MIN(cp) OVER wc < 0 THEN cp - MIN(cp) OVER wc
                    ELSE cp END AS sp,
               CASE WHEN MIN(cn) OVER wc < 0 THEN cn - MIN(cn) OVER wc
                    ELSE cn END AS sn
        FROM c
        WINDOW wc AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           CAST(z6 AS DOUBLE) AS zscore,
           CAST(sp * 1000000 AS BIGINT) AS cusum_pos_u,
           CAST(sn * 1000000 AS BIGINT) AS cusum_neg_u,
           CAST(sp * 1000000 AS BIGINT) > {_CUSUM_H_U} AS alarm_pos,
           CAST(sn * 1000000 AS BIGINT) > {_CUSUM_H_U} AS alarm_neg
    FROM m
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point detection on the per-type daily value
    (Page 1954): standardize against the type's own mean/std (exact
    decimal sums), accumulate max(0, S + z - k) upward and downward via
    the running-sum-minus-running-min closed form, and alarm when the
    statistic crosses h = 4 sigma.

    Determinism at any partitioning: z is rounded then scaled to
    DECIMAL(18,6) BEFORE the two stacked cumulative windows, so every
    window sum/min is exact integer arithmetic (no float association),
    and the statistic is emitted in integer micro-units. Cost: one
    shuffle to the daily grain, then keyed windows over O(days) rows per
    type."""
    d = _daily(spark, sf_dir).select(
        "event_type",
        "day",
        F.col("_value_dec").cast("decimal(18,2)").alias("v"),
    )
    vv = (F.col("v") * F.col("v")).cast("decimal(38,4)")
    st = d.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("s1d"),
        F.sum(vv).cast("double").alias("s2d"),
    )
    n, s1d, s2d = F.col("n"), F.col("s1d"), F.col("s2d")
    var = (s2d - s1d * s1d / n) / (n - 1)
    z = (
        d.join(F.broadcast(st), d.event_type == st.et)
        .filter((n >= 2) & (var > 0.0))
        .select(
            "event_type",
            "day",
            F.round(
                (F.col("v").cast("double") - s1d / n) / F.sqrt(var), 6
            )
            .cast("decimal(18,6)")
            .alias("z6"),
        )
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    k = F.lit(_CUSUM_K).cast("decimal(18,6)")
    c = z.select(
        "event_type",
        "day",
        "z6",
        F.sum(F.col("z6") - k).over(wc).alias("cp"),
        F.sum(-F.col("z6") - k).over(wc).alias("cn"),
    )
    mp = F.min("cp").over(wc)
    mn = F.min("cn").over(wc)
    m = c.select(
        "event_type",
        "day",
        "z6",
        F.when(mp < 0, F.col("cp") - mp).otherwise(F.col("cp")).alias("sp"),
        F.when(mn < 0, F.col("cn") - mn).otherwise(F.col("cn")).alias("sn"),
    )
    spu = (F.col("sp") * 1000000).cast("bigint")
    snu = (F.col("sn") * 1000000).cast("bigint")
    return m.select(
        "event_type",
        "day",
        F.col("z6").cast("double").alias("zscore"),
        spu.alias("cusum_pos_u"),
        snu.alias("cusum_neg_u"),
        (spu > _CUSUM_H_U).alias("alarm_pos"),
        (snu > _CUSUM_H_U).alias("alarm_neg"),
    )


@query(
    "ts_interpolate",
    oracle=f"""
    WITH d AS ({_DAILY_SQL}),
    b AS (
        SELECT min(date_trunc('day', ts)) AS lo,
               max(date_trunc('day', ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT t.event_type,
               unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS day
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN b
    ),
    j AS (
        SELECT spine.event_type, spine.day, d._value_dec AS v
        FROM spine LEFT JOIN d
          ON d.event_type = spine.event_type AND d.day = spine.day
    ),
    n AS (
        SELECT event_type, day, v,
               last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
                   OVER wp AS pd,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
                   OVER wf AS nd,
               first_value(v IGNORE NULLS) OVER wf AS nv
        FROM j
        WINDOW wp AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               wf AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day,
           CAST(v AS DOUBLE) AS day_value,
           round(CASE
               WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
               WHEN pd IS NOT NULL AND nd IS NOT NULL THEN
                   CAST(pv AS DOUBLE)
                   + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                     * (CAST(date_diff('day', pd, day) AS DOUBLE)
                        / CAST(date_diff('day', pd, nd) AS DOUBLE))
           END, 6) AS interp_value,
           v IS NULL AND pd IS NOT NULL AND nd IS NOT NULL
               AS is_interpolated
    FROM n
    """,
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing days on the dense calendar spine:
    a gap day's value is the straight line between the nearest observed
    days on each side (leading/trailing gaps stay NULL — complement to
    ts_gap_fill's LOCF). Interpolation arithmetic is (exact decimal
    endpoints -> double) with an exact integer day-ratio, so both
    engines compute bit-identical doubles before the 6-dp edge round.
    Same scale shape as ts_gap_fill: one shuffle to the daily grain,
    spine broadcast, keyed windows over O(days)."""
    daily = _daily(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        ),
    )
    j = spine.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.col("_value_dec").alias("v")
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("v").isNotNull(), F.col("day"))
    n = j.select(
        "event_type",
        "day",
        "v",
        F.last(known_day, ignorenulls=True).over(wp).alias("pd"),
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.first(known_day, ignorenulls=True).over(wf).alias("nd"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
    )
    pv, nv = F.col("pv").cast("double"), F.col("nv").cast("double")
    ratio = F.datediff("day", "pd").cast("double") / F.datediff(
        "nd", "pd"
    ).cast("double")
    interp = F.when(F.col("v").isNotNull(), F.col("v").cast("double")).when(
        F.col("pd").isNotNull() & F.col("nd").isNotNull(),
        pv + (nv - pv) * ratio,
    )
    return n.select(
        "event_type",
        "day",
        F.col("v").cast("double").alias("day_value"),
        F.round(interp, 6).alias("interp_value"),
        (
            F.col("v").isNull()
            & F.col("pd").isNotNull()
            & F.col("nd").isNotNull()
        ).alias("is_interpolated"),
    )


@query(
    "ts_twap",
    oracle="""
    WITH w AS (
        SELECT event_type,
               date_trunc('day', ts) AS day,
               CAST(value AS DECIMAL(18,2)) AS v,
               epoch_us(COALESCE(
                   lead(ts) OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts, event_id),
                   date_trunc('day', ts) + INTERVAL 1 DAY))
               - epoch_us(ts) AS dur
        FROM events
    )
    SELECT event_type, day,
           COUNT(*) AS n_events,
           round(CAST(SUM(v * CAST(dur AS DECIMAL(18,0))) AS DOUBLE)
                 / CAST(SUM(dur) AS DOUBLE), 6) AS twap
    FROM w
    GROUP BY 1, 2
    HAVING SUM(dur) > 0
    """,
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event_type, day): each event's
    value holds until the next event of that type (or the day boundary),
    and the average weights by that holding duration in microseconds —
    the TWAP the reference's price-feed tables
    (src/modules/tasks/tasks.common.ts:156-221 tokens_price) would feed
    a fair-price endpoint from, where a plain AVG over irregular ticks
    over-weights bursts.

    Weights are exact integer micros from a keyed LEAD window (total
    order: ts, event_id); value x duration runs in decimal, so both sums
    are exact and the single division at the edge is deterministic."""
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    w = ev.select(
        "event_type",
        day.alias("day"),
        dec2("value").alias("v"),
        (
            F.unix_micros(
                F.coalesce(
                    F.lead("ts").over(
                        Window.partitionBy(
                            "event_type", day
                        ).orderBy("ts", "event_id")
                    ),
                    day + F.expr("INTERVAL 1 DAY"),
                )
            )
            - F.unix_micros(F.col("ts"))
        ).alias("dur"),
    )
    return (
        w.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.col("v") * F.col("dur").cast("decimal(18,0)")
            ).alias("_vw"),
            F.sum("dur").alias("_w"),
        )
        .filter(F.col("_w") > 0)
        .select(
            "event_type",
            "day",
            "n_events",
            F.round(
                F.col("_vw").cast("double") / F.col("_w").cast("double"), 6
            ).alias("twap"),
        )
    )


# ------------------------------------------------- autocorrelation function

ACF_MAX_LAG = 7

_ACF_LAG_SQL = "\n    UNION ALL\n".join(
    f"    SELECT {k} AS lag, x, lag(x, {k}) OVER (ORDER BY day) AS xl FROM d"
    for k in range(1, ACF_MAX_LAG + 1)
)


@query(
    "ts_acf",
    oracle=f"""
    WITH d AS (
        SELECT date_trunc('day', ts) AS day, SUM(value) AS x
        FROM events GROUP BY 1
    ),
    l AS (
{_ACF_LAG_SQL}
    ),
    m AS (SELECT avg(x) AS mu FROM d),
    den AS (
        SELECT SUM((x - mu) * (x - mu)) AS s2 FROM d CROSS JOIN m
    ),
    num AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM((x - mu) * (xl - mu)) AS nm
        FROM l CROSS JOIN m
        WHERE xl IS NOT NULL
        GROUP BY lag
    )
    SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
           round(nm / s2, 6) AS acf
    FROM num CROSS JOIN den
    """,
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily total event value at lags
    1..{ACF_MAX_LAG} — the seasonality/memory fingerprint read before
    choosing a forecasting window (a weekly cycle shows as a lag-7
    peak).  r_k = sum (x_t - mu)(x_t-k - mu) / sum (x_t - mu)^2 with
    the global series mean mu.

    Spark plan: ONE day-grain aggregate on the fact, then every window
    (the {ACF_MAX_LAG} lag shifts share one ORDER BY day sort) runs on
    the date-grain frame — bounded by the observation window (365
    rows/year) at ANY corpus size, so the single-partition window is
    metadata-scale forever, never data-sized.  The lag columns unpivot
    via one stack() so the frame is scanned once; 6-dp rounding
    absorbs the mu-propagation float noise (stat_moments precedent)."""
    ev = load(spark, sf_dir, "events")
    # three consumers (lag frame, mean, denominator) fork below: persist
    # the calendar-bounded day frame so the FACT scans once, not thrice
    # (Spark's cache manager dedups this persist across repeated calls
    # by analyzed plan — the r13 note)
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum("value").alias("x")
    ).persist()
    w = Window.orderBy("day")
    lag_cols = [F.lag("x", k).over(w).alias(f"xl{k}") for k in range(1, ACF_MAX_LAG + 1)]
    wide = d.select("x", *lag_cols)
    stack_args = ", ".join(f"{k}, xl{k}" for k in range(1, ACF_MAX_LAG + 1))
    long = wide.select(
        "x", F.expr(f"stack({ACF_MAX_LAG}, {stack_args}) AS (lag, xl)")
    ).filter(F.col("xl").isNotNull())
    m = d.agg(F.avg("x").alias("mu"))
    den = d.crossJoin(F.broadcast(m)).agg(
        F.sum((F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))).alias("s2")
    )
    num = (
        long.crossJoin(F.broadcast(m))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("x") - F.col("mu")) * (F.col("xl") - F.col("mu"))).alias("nm"),
        )
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        F.round(F.col("nm") / F.col("s2"), 6).alias("acf"),
    )


# -------------------------------------------- Holt-Winters forecasting

@query("ts_holt_winters")  # carried seasonal state: no closed SQL form
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters forecast of the next 7 days of total event
    value (operators/forecast.py; alpha/beta/gamma = 0.3/0.1/0.2,
    season 7) — the capacity-planning readout next to ts_acf's
    diagnosis and ts_seasonal_decompose's explanation.

    Scale shape: the only data-sized operation is the scan-fused daily
    aggregate; the recurrence runs as ONE applyInPandas task over the
    calendar-bounded day frame (365 rows/year forever — the
    ts_seasonal_decompose note).  Rows-only by design (the seasonal
    recurrence has no SQL form); the recurrence is pinned against a
    sequential reference on identical series and a constructed
    seasonal signal in tests/test_forecast.py."""
    import pandas as pd

    from pasardassist_spark.operators.forecast import (
        HW_HORIZON,
        holt_winters_additive,
    )

    d = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.sum("value").alias("x"))
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        fc, sse = holt_winters_additive(pdf["x"].to_numpy())
        return pd.DataFrame(
            {
                "h": range(1, HW_HORIZON + 1),
                "forecast": [round(float(v), 6) for v in fc],
                "sse_insample": [round(float(sse), 6)] * HW_HORIZON,
            }
        )

    return (
        d.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(_fit, "h int, forecast double, sse_insample double")
    )


_PH_DELTA = "0.005000"      # Page-Hinkley magnitude allowance (decimal)
_PH_LAMBDA_U = 50_000_000   # alarm threshold 50.0 value-units, micro-scaled


@query(
    "ts_page_hinkley",
    oracle=f"""
    WITH d AS ({_DAILY_SQL}),
    r AS (
        SELECT event_type, day,
               CAST(_value_dec AS DECIMAL(18,2)) AS v,
               CAST(round(
                   CAST(SUM(_value_dec) OVER wc AS DOUBLE)
                   / COUNT(*) OVER wc, 6) AS DECIMAL(18,6)) AS xbar6
        FROM d
        WINDOW wc AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    m AS (
        SELECT event_type, day, v, xbar6,
               SUM(v - xbar6 - CAST({_PH_DELTA} AS DECIMAL(18,6))) OVER wc
                   AS mt
        FROM r
        WINDOW wc AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day,
           CAST(v AS DOUBLE) AS day_value,
           CAST(mt * 1000000 AS BIGINT) AS ph_u,
           CAST((mt - MIN(mt) OVER wc) * 1000000 AS BIGINT) AS ph_gap_u,
           CAST((mt - MIN(mt) OVER wc) * 1000000 AS BIGINT)
               > {_PH_LAMBDA_U} AS alarm
    FROM m
    WINDOW wc AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detection on the per-type daily value (Page
    1954; the sequential test concept-drift monitors run on model
    inputs at 100 TB): m_t accumulates deviations from the RUNNING mean
    (minus a small allowance delta), and the gap m_t - min(m_1..t)
    alarms when an upward level shift persists.

    Determinism at any partitioning: the running mean is rounded to
    6 dp and cast to DECIMAL BEFORE the deviation cumsum (the ts_cusum
    discipline), so both stacked windows are exact decimal arithmetic
    and the statistic is emitted in integer micro-units.  Cost: one
    shuffle to the daily grain, then keyed windows over O(days) rows
    per type."""
    d = _daily(spark, sf_dir).select(
        "event_type", "day",
        F.col("_value_dec").cast("decimal(18,2)").alias("v"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = d.select(
        "event_type", "day", "v",
        F.round(
            F.sum("v").over(wc).cast("double")
            / F.count(F.lit(1)).over(wc), 6
        ).cast("decimal(18,6)").alias("xbar6"),
    )
    delta = F.lit(_PH_DELTA).cast("decimal(18,6)")
    m = r.select(
        "event_type", "day", "v",
        F.sum(F.col("v") - F.col("xbar6") - delta).over(wc).alias("mt"),
    )
    gap_u = ((F.col("mt") - F.min("mt").over(wc)) * 1000000).cast("bigint")
    return m.select(
        "event_type", "day",
        F.col("v").cast("double").alias("day_value"),
        (F.col("mt") * 1000000).cast("bigint").alias("ph_u"),
        gap_u.alias("ph_gap_u"),
        (gap_u > _PH_LAMBDA_U).alias("alarm"),
    )


@query(
    "stat_mann_kendall",
    oracle=f"""
    WITH d AS ({_DAILY_SQL}),
    s AS (
        SELECT a.event_type,
               SUM(CASE WHEN b._value_dec > a._value_dec THEN 1
                        WHEN b._value_dec < a._value_dec THEN -1
                        ELSE 0 END) AS s_stat
        FROM d a JOIN d b
          ON a.event_type = b.event_type AND a.day < b.day
        GROUP BY a.event_type
    ),
    n AS (
        SELECT event_type, COUNT(*) AS n FROM d GROUP BY event_type
    ),
    ties AS (
        SELECT event_type,
               COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
        FROM (
            SELECT event_type, COUNT(*) AS t
            FROM d GROUP BY event_type, _value_dec
        ) g
        WHERE t > 1
        GROUP BY event_type
    )
    SELECT n.event_type,
           CAST(n.n AS INTEGER) AS n_days,
           CAST(s.s_stat AS BIGINT) AS s_stat,
           CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                - COALESCE(ties.tie_term, 0) AS BIGINT) AS var_s_x18,
           round(CASE
               WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt(
                   (n.n * (n.n - 1) * (2 * n.n + 5)
                    - COALESCE(ties.tie_term, 0)) / 18.0)
               WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt(
                   (n.n * (n.n - 1) * (2 * n.n + 5)
                    - COALESCE(ties.tie_term, 0)) / 18.0)
               ELSE 0.0 END, 6) AS z
    FROM n JOIN s USING (event_type)
    LEFT JOIN ties USING (event_type)
    WHERE n.n >= 3
    """,
)
def stat_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type on the daily value series
    (Mann 1945; Kendall 1975 — the standard nonparametric "is this
    metric trending" monitor): S = sum of sign(v_j - v_i) over ordered
    day pairs, tie-corrected variance 18*Var(S) kept as an EXACT
    integer (var_s_x18), and the continuity-corrected z statistic.

    Scale shape: the pair sum runs on the DAILY grain — one shuffle
    collapses raw events to |types| x |days| rows, and the self-join is
    per-type over O(days^2) pairs of that bounded series (thousands of
    pairs, not billions; a decade of days is ~13M pairs per type at
    worst, still one task's work).  Sign comparisons are on exact
    DECIMAL day values — no float enters until the final z."""
    # NOT persisted (r18): staging the daily frame A/B-measured +20% at
    # 32 cores and a wash at 8 — the four consumers' shared aggregate is
    # one map-side-combined shuffle that pipelines better than a cache
    # barrier (contrast the seasonal variant, where staging wins).
    d = _daily(spark, sf_dir).select(
        "event_type", "day",
        F.col("_value_dec").cast("decimal(18,2)").alias("v"),
    )
    a = d.alias("a")
    b = d.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.v") > F.col("a.v"), 1)
                .when(F.col("b.v") < F.col("a.v"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    n = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    t = (
        d.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    nn = F.col("n")
    var18 = (
        nn * (nn - 1) * (2 * nn + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ).cast("bigint")
    ss = F.col("s_stat")
    sd = F.sqrt(var18.cast("double") / 18.0)
    z = (
        F.when(ss > 0, (ss - 1) / sd)
        .when(ss < 0, (ss + 1) / sd)
        .otherwise(F.lit(0.0))
    )
    return (
        n.join(s, "event_type")
        .join(t, "event_type", "left")
        .filter(nn >= 3)
        .select(
            "event_type",
            nn.cast("int").alias("n_days"),
            ss.cast("bigint").alias("s_stat"),
            var18.alias("var_s_x18"),
            F.round(z, 6).alias("z"),
        )
    )


@query(
    "ts_ljung_box",
    oracle=f"""
    WITH d AS (
        SELECT date_trunc('day', ts) AS day, SUM(value) AS x
        FROM events GROUP BY 1
    ),
    l AS (
{_ACF_LAG_SQL}
    ),
    m AS (SELECT avg(x) AS mu, CAST(COUNT(*) AS BIGINT) AS n FROM d),
    den AS (
        SELECT SUM((x - mu) * (x - mu)) AS s2 FROM d CROSS JOIN m
    ),
    num AS (
        SELECT lag, SUM((x - mu) * (xl - mu)) AS nm
        FROM l CROSS JOIN m
        WHERE xl IS NOT NULL
        GROUP BY lag
    ),
    r AS (
        SELECT lag,
               CAST(round(nm / s2, 6) AS DECIMAL(18,6)) AS rk6
        FROM num CROSS JOIN den
    )
    SELECT CAST(r.lag AS INTEGER) AS max_lag,
           m.n AS n_days,
           round(m.n * (m.n + 2) * SUM(
               CAST(r2.rk6 * r2.rk6 AS DOUBLE) / (m.n - r2.lag)
           ), 6) AS q_stat
    FROM r JOIN r r2 ON r2.lag <= r.lag
    CROSS JOIN m
    GROUP BY r.lag, m.n
    """,
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau white-noise test on the daily total-value
    series (Ljung & Box 1978 — the residual-diagnostics companion to
    ts_acf/ts_holt_winters): Q(m) = n(n+2) * sum_{{k<=m}} r_k^2/(n-k)
    for every max-lag m up to ACF_MAX_LAG, using the same ACF
    construction ts_acf certifies.

    Determinism: each r_k is rounded to 6 dp and cast to DECIMAL before
    squaring (so the cumulative lag sum is over exact values — the one
    float reduction, nm/s2, crosses engines through the already-green
    ts_acf expression shape).  Cost: the series is the daily grain
    (O(days) rows); lags fan out via a union of O(m) windowed passes
    over it, then a triangular join over m rows."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum("value").alias("x")
    )
    w = Window.orderBy("day")
    lags = None
    for k in range(1, ACF_MAX_LAG + 1):
        part = d.select(
            F.lit(k).alias("lag"), "x", F.lag("x", k).over(w).alias("xl")
        )
        lags = part if lags is None else lags.unionByName(part)
    m = d.agg(
        F.avg("x").alias("mu"), F.count(F.lit(1)).cast("long").alias("n")
    )
    mu, n = F.col("mu"), F.col("n")
    den = d.crossJoin(F.broadcast(m)).agg(
        F.sum((F.col("x") - mu) * (F.col("x") - mu)).alias("s2"),
        F.first("n").alias("n"),
    )
    num = (
        lags.crossJoin(F.broadcast(m))
        .filter(F.col("xl").isNotNull())
        .groupBy("lag")
        .agg(F.sum((F.col("x") - mu) * (F.col("xl") - mu)).alias("nm"))
    )
    r = num.crossJoin(F.broadcast(den)).select(
        "lag", "n",
        F.round(F.col("nm") / F.col("s2"), 6)
        .cast("decimal(18,6)")
        .alias("rk6"),
    )
    r2 = r.select(
        F.col("lag").alias("lag2"), F.col("rk6").alias("rk6_2")
    )
    return (
        r.join(F.broadcast(r2), F.col("lag2") <= F.col("lag"))
        .groupBy(F.col("lag").cast("int").alias("max_lag"), F.col("n"))
        .agg(
            F.round(
                F.col("n")
                * (F.col("n") + 2)
                * F.sum(
                    (F.col("rk6_2") * F.col("rk6_2")).cast("double")
                    / (F.col("n") - F.col("lag2"))
                ),
                6,
            ).alias("q_stat")
        )
        .withColumnRenamed("n", "n_days")
    )


@query(
    "stat_seasonal_mann_kendall",
    oracle=f"""
    WITH d AS ({_DAILY_SQL}),
    ds AS (
        SELECT event_type, day, _value_dec,
               CAST(dayofweek(day) AS INTEGER) AS season
        FROM d
    ),
    s AS (
        SELECT a.event_type, a.season,
               SUM(CASE WHEN b._value_dec > a._value_dec THEN 1
                        WHEN b._value_dec < a._value_dec THEN -1
                        ELSE 0 END) AS sk
        FROM ds a JOIN ds b
          ON a.event_type = b.event_type AND a.season = b.season
         AND a.day < b.day
        GROUP BY a.event_type, a.season
    ),
    n AS (
        SELECT event_type, season, COUNT(*) AS nk
        FROM ds GROUP BY event_type, season
    ),
    ties AS (
        SELECT event_type, season,
               COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
        FROM (
            SELECT event_type, season, COUNT(*) AS t
            FROM ds GROUP BY event_type, season, _value_dec
        ) g
        WHERE t > 1
        GROUP BY event_type, season
    ),
    per AS (
        SELECT n.event_type, n.season, n.nk,
               COALESCE(s.sk, 0) AS sk,
               n.nk * (n.nk - 1) * (2 * n.nk + 5)
                   - COALESCE(ties.tie_term, 0) AS vk18
        FROM n
        LEFT JOIN s USING (event_type, season)
        LEFT JOIN ties USING (event_type, season)
    ),
    agg AS (
        SELECT event_type,
               CAST(SUM(nk) AS INTEGER) AS n_days,
               CAST(SUM(sk) AS BIGINT) AS s_stat,
               CAST(SUM(vk18) AS BIGINT) AS var_s_x18
        FROM per GROUP BY event_type
    )
    SELECT event_type, n_days, s_stat, var_s_x18,
           round(CASE
               WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s_x18 / 18.0)
               WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s_x18 / 18.0)
               ELSE 0.0 END, 6) AS z
    FROM agg
    WHERE var_s_x18 > 0
    """,
)
def stat_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch & Slack 1984 — the form
    environmental/ops monitoring actually runs, because weekly cycles
    masquerade as trend in the plain test): the pair statistic is
    computed WITHIN each day-of-week season and summed, with per-season
    tie-corrected variances adding; z gets the continuity correction.
    Same exact-integer machinery as stat_mann_kendall (18*Var kept as
    an integer; sign comparisons on exact decimals), same bounded
    daily-grain self-join — now 7x smaller per season."""
    # persist (r18): same staging as stat_mann_kendall — four consumers
    # of the daily-grain frame.
    d = _daily(spark, sf_dir).select(
        "event_type", "day",
        F.col("_value_dec").cast("decimal(18,2)").alias("v"),
        F.dayofweek("day").cast("int").alias("season"),
    ).persist()
    a, b = d.alias("a"), d.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.season") == F.col("b.season"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.season").alias("season"),
        )
        .agg(
            F.sum(
                F.when(F.col("b.v") > F.col("a.v"), 1)
                .when(F.col("b.v") < F.col("a.v"), -1)
                .otherwise(0)
            ).alias("sk")
        )
    )
    n = d.groupBy("event_type", "season").agg(
        F.count(F.lit(1)).alias("nk")
    )
    t = (
        d.groupBy("event_type", "season", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type", "season")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    nk = F.col("nk")
    per = (
        n.join(s, ["event_type", "season"], "left")
        .join(t, ["event_type", "season"], "left")
        .select(
            "event_type",
            nk,
            F.coalesce(F.col("sk"), F.lit(0)).alias("sk"),
            (
                nk * (nk - 1) * (2 * nk + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            ).alias("vk18"),
        )
    )
    agg = per.groupBy("event_type").agg(
        F.sum("nk").cast("int").alias("n_days"),
        F.sum("sk").cast("bigint").alias("s_stat"),
        F.sum("vk18").cast("bigint").alias("var_s_x18"),
    )
    ss = F.col("s_stat")
    sd = F.sqrt(F.col("var_s_x18").cast("double") / 18.0)
    z = (
        F.when(ss > 0, (ss - 1) / sd)
        .when(ss < 0, (ss + 1) / sd)
        .otherwise(F.lit(0.0))
    )
    return agg.filter(F.col("var_s_x18") > 0).select(
        "event_type", "n_days", "s_stat", "var_s_x18",
        F.round(z, 6).alias("z"),
    )


# ------------------------------------- partial autocorrelation (PACF)

PACF_MAX_LAG = ACF_MAX_LAG


@query("ts_pacf")  # Durbin-Levinson recursion: no closed SQL form
def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily total event value at lags
    1..{PACF_MAX_LAG} via the Durbin-Levinson recursion — the AR-order
    diagnostic read NEXT to ts_acf (ACF tails off + PACF cuts at p ⇒
    AR(p); the pairing is how every Box-Jenkins identification step
    starts).  phi_mm = (r_m - sum phi_{m-1,j} r_{m-j}) /
    (1 - sum phi_{m-1,j} r_j), each level folding the previous
    coefficients.

    Scale shape: the ONLY data-sized work is ts_acf's single day-grain
    fact aggregate (the distributed ACF assembly is reused verbatim);
    the recursion runs driver-side on the <= {PACF_MAX_LAG}-element ACF
    vector — metadata-scale forever, the glm.py "aggregate statistics,
    solve small" split.  ACF values are 6-dp-rounded BEFORE the
    recursion, so the recursion input (and hence output) is pinned
    cross-run; results round to 6 dp.  Sequential Yule-Walker twin in
    tests/test_round14_stats.py."""
    acf_rows = ts_acf(spark, sf_dir).collect()
    r = [1.0] + [
        float(row.acf) for row in sorted(acf_rows, key=lambda x: x.lag)
    ]
    p = len(r) - 1
    pacf: list[float] = []
    prev: list[float] = []
    for m in range(1, p + 1):
        num = r[m] - sum(prev[j] * r[m - 1 - j] for j in range(m - 1))
        den = 1.0 - sum(prev[j] * r[j + 1] for j in range(m - 1))
        phi_mm = num / den
        cur = [
            prev[j] - phi_mm * prev[m - 2 - j] for j in range(m - 1)
        ] + [phi_mm]
        pacf.append(phi_mm)
        prev = cur
    return local_frame(
        spark,
        [(k + 1, round(v, 6)) for k, v in enumerate(pacf)],
        "lag int, pacf double",
    )


# ---------------------------------- single change-point (binary split)


@query(
    "ts_changepoint",
    oracle="""
    WITH d AS (
        SELECT date_trunc('day', ts) AS day, round(SUM(value), 6) AS x
        FROM events GROUP BY 1
    ),
    c AS (
        SELECT day, x,
               ROW_NUMBER() OVER (ORDER BY day) AS k,
               SUM(x) OVER w AS cs,
               SUM(x * x) OVER w AS cq,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               SUM(x) OVER () AS ts_,
               SUM(x * x) OVER () AS tq
        FROM d
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    s AS (
        SELECT day, k, n, cs, ts_,
               (tq - ts_ * ts_ / n)
               - ((cq - cs * cs / k)
                  + ((tq - cq) - (ts_ - cs) * (ts_ - cs) / (n - k)))
                   AS reduction
        FROM c WHERE k < n
    )
    SELECT strftime(day, '%Y-%m-%d') AS split_day,
           CAST(k AS BIGINT) AS n_left,
           CAST(n - k AS BIGINT) AS n_right,
           round(cs / k, 6) AS mean_left,
           round((ts_ - cs) / (n - k), 6) AS mean_right,
           round(reduction, 6) AS ss_reduction
    FROM s ORDER BY reduction DESC, k ASC LIMIT 1
    """,
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point in the daily total event value by exact
    between-segment SS maximization — the first split of binary
    segmentation, the level-shift detector paired with ts_page_hinkley
    (PH streams and flags; this locates, offline, WHERE the mean moved):
    argmax_k [ SST - (SSL(k) + SSR(k)) ] over all n-1 split points,
    each segment SS from the prefix-sum identity sum((x-m)^2) =
    sum(x^2) - sum(x)^2/len.

    Spark plan: one day-grain aggregate on the fact; ONE ordered
    cumulative window over the calendar-bounded day frame carries
    sum/sum-of-squares prefixes, the totals ride the same frame as
    unbounded window sums — crucially SST is taken from the SAME
    sequential prefix chain (not a separate hash aggregate), so both
    engines fold the identical addition order and the argmax compares
    bitwise-identical doubles.  Ties break to the earliest split.
    Day frame is metadata-scale at any corpus size (365 rows/year)."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.round(F.sum("value"), 6).alias("x")
    )
    wseq = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    x = F.col("x")
    c = d.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("k"),
        F.sum(x).over(wseq).alias("cs"),
        F.sum(x * x).over(wseq).alias("cq"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum(x).over(wall).alias("ts_"),
        F.sum(x * x).over(wall).alias("tq"),
    )
    k = F.col("k").cast("double")
    n = F.col("n").cast("double")
    sst = F.col("tq") - F.col("ts_") * F.col("ts_") / n
    ssl = F.col("cq") - F.col("cs") * F.col("cs") / k
    rs = F.col("ts_") - F.col("cs")
    ssr = (F.col("tq") - F.col("cq")) - rs * rs / (n - k)
    s = c.filter(F.col("k") < F.col("n")).select(
        "day", "k", "n", "cs", "ts_",
        (sst - (ssl + ssr)).alias("reduction"),
    )
    return (
        s.orderBy(F.col("reduction").desc(), F.col("k").asc())
        .limit(1)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("split_day"),
            F.col("k").cast("long").alias("n_left"),
            (F.col("n") - F.col("k")).cast("long").alias("n_right"),
            F.round(F.col("cs") / F.col("k"), 6).alias("mean_left"),
            F.round(
                (F.col("ts_") - F.col("cs")) / (F.col("n") - F.col("k")), 6
            ).alias("mean_right"),
            F.round(F.col("reduction"), 6).alias("ss_reduction"),
        )
    )


# ---------------------------------------------- forecast accuracy metrics

@query(
    "ts_forecast_accuracy",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    lagd AS (
        SELECT d, y,
               lag(y, 1) OVER (ORDER BY d) AS f_naive,
               lag(y, 7) OVER (ORDER BY d) AS f_snaive
        FROM daily
    ),
    ev AS (
        SELECT * FROM lagd WHERE f_naive IS NOT NULL AND f_snaive IS NOT NULL
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(abs(y - f_naive)) AS HUGEINT) AS sae_naive,
               CAST(SUM(abs(y - f_snaive)) AS HUGEINT) AS sae_snaive,
               CAST(SUM(CAST(y - f_naive AS HUGEINT)
                        * (y - f_naive)) AS HUGEINT) AS sse_naive,
               CAST(SUM(CAST(y - f_snaive AS HUGEINT)
                        * (y - f_snaive)) AS HUGEINT) AS sse_snaive,
               CAST(SUM(y) AS HUGEINT) AS sy
        FROM ev
    )
    SELECT m,
           round(CAST(sae_naive AS DOUBLE) / m / 100.0, 6) AS mae_naive_usd,
           round(CAST(sae_snaive AS DOUBLE) / m / 100.0, 6) AS mae_snaive_usd,
           round(CAST(sae_snaive AS DOUBLE) / CAST(sae_naive AS DOUBLE), 6)
               AS mase_snaive,
           round(CAST(sae_snaive AS DOUBLE) / CAST(sy AS DOUBLE), 6)
               AS wape_snaive,
           round(sqrt(CAST(sse_snaive AS DOUBLE) / CAST(sse_naive AS DOUBLE)),
                 6) AS theil_u2
    FROM s
    """,
)
def ts_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scoreboard (Hyndman & Koehler, "Another look at
    measures of forecast accuracy", IJF 2006) for the two standard
    baseline forecasters of the daily revenue series: naive-1 (previous
    observed day) and seasonal-naive-7 (a week back), scored on the days
    where both are defined. The metrics a forecasting pipeline actually
    gates on:

    - MAE (both, in dollars),
    - MASE = MAE(snaive) / MAE(naive-1) — Hyndman's scale-free form
      with the in-sample naive as the scaling benchmark,
    - WAPE = sum|e| / sum y,
    - Theil's U2 = sqrt(SSE(snaive) / SSE(naive-1)).

    Determinism contract: daily revenue in CENTS is an exact BIGINT
    (o_totalprice routes through DECIMAL(18,2) — the repo's
    double-parquet convention), absolute-error sums are exact integers,
    and the squared-error sums go through 128-bit integers (HUGEINT /
    Spark DECIMAL(38,0) — sf100 daily-cents deltas square past 2^63).
    Every ratio is a single float expression over those exact sums,
    identical on both engines -> 6-dp bit-identical.

    Scale shape: one fact-scan hash aggregate to daily grain; the lag
    window runs over the calendar-bounded daily frame (metadata-sized
    at any corpus scale), then one 1-row aggregate. Scan-bound.

    Reference parity: the reference's stats cron
    (src/modules/tasks/tasks.service.ts) recomputes dashboards but has
    no forecast evaluation; extension shelf next to ts_holt_winters.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,2)").alias("tp"),
    )
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        (F.sum("tp") * 100).cast("long").alias("y")
    )
    w = Window.orderBy("d")
    lagd = daily.select(
        "d", "y",
        F.lag("y", 1).over(w).alias("f_naive"),
        F.lag("y", 7).over(w).alias("f_snaive"),
    ).filter(F.col("f_naive").isNotNull() & F.col("f_snaive").isNotNull())
    d19 = "decimal(19,0)"
    e1 = F.col("y") - F.col("f_naive")
    e7 = F.col("y") - F.col("f_snaive")
    s = lagd.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.abs(e1)).cast("decimal(38,0)").alias("sae_naive"),
        F.sum(F.abs(e7)).cast("decimal(38,0)").alias("sae_snaive"),
        F.sum(e1.cast(d19) * e1.cast(d19)).cast("decimal(38,0)")
        .alias("sse_naive"),
        F.sum(e7.cast(d19) * e7.cast(d19)).cast("decimal(38,0)")
        .alias("sse_snaive"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
    )
    return s.select(
        "m",
        F.round(F.col("sae_naive").cast("double") / F.col("m") / 100.0, 6)
        .alias("mae_naive_usd"),
        F.round(F.col("sae_snaive").cast("double") / F.col("m") / 100.0, 6)
        .alias("mae_snaive_usd"),
        F.round(
            F.col("sae_snaive").cast("double")
            / F.col("sae_naive").cast("double"), 6
        ).alias("mase_snaive"),
        F.round(
            F.col("sae_snaive").cast("double") / F.col("sy").cast("double"), 6
        ).alias("wape_snaive"),
        F.round(
            F.sqrt(
                F.col("sse_snaive").cast("double")
                / F.col("sse_naive").cast("double")
            ), 6
        ).alias("theil_u2"),
    )
