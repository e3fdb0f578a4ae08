"""Privacy release audit queries (operators/privacy.py) over the
customer microdata: quasi-identifiers (c_nationkey, c_mktsegment),
sensitive attribute = the account-balance band floor(c_acctbal/2000).

No reference analog (the reference releases marketplace data as-is);
this is LLM-pipeline extension surface — the audit a curated corpus
passes before leaving the pipeline — on the same footing as the
dedup/text shelves. Thresholds are module constants so the oracles and
engines share one source of truth.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.operators import privacy as P
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load

QI = ("c_nationkey", "c_mktsegment")
K_ANON = 5
L_DIVERSE = 3
T_CLOSE = 0.35
BAND = 2000.0

_BAND_SQL = "CAST(floor(c_acctbal / 2000.0) AS INTEGER)"


def _banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        *QI,
        F.floor(F.col("c_acctbal") / F.lit(BAND)).cast("int").alias("band"),
    )


@query(
    "privacy_k_anonymity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           COUNT(*) >= {K_ANON} AS meets_k
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-QI-class k-anonymity readout (k = K_ANON): a release is
    k-anonymous iff every class has meets_k. One hash aggregate at the
    QI grain; readout is QI-cardinality-sized."""
    return P.k_anonymity_classes(
        load(spark, sf_dir, "customer"), list(QI), K_ANON
    )


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH cv AS (
        SELECT c_nationkey, c_mktsegment, {_BAND_SQL} AS band,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(SUM(c) AS BIGINT) AS class_size,
           CAST(COUNT(*) AS BIGINT) AS l_distinct,
           round(exp(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c)), 6) AS entropy_l,
           COUNT(*) >= {L_DIVERSE} AS meets_l
    FROM cv
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct + entropy l-diversity of the balance band per QI class
    (l = L_DIVERSE). entropy_l = exp(H), the effective number of
    sensitive values — it drops below l_distinct when one value
    dominates the class. Two stacked hash aggregates, no window."""
    return P.l_diversity(_banded(spark, sf_dir), list(QI), "band", L_DIVERSE)


@query(
    "privacy_t_closeness",
    oracle=f"""
    WITH b AS (
        SELECT c_nationkey, c_mktsegment, {_BAND_SQL} AS band FROM customer
    ),
    cls AS (
        SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_size
        FROM b GROUP BY 1, 2
    ),
    vals AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS gv FROM b GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
    cv AS (
        SELECT c_nationkey, c_mktsegment, band, CAST(COUNT(*) AS BIGINT) AS cvn
        FROM b GROUP BY 1, 2, 3
    ),
    grid AS (
        -- the NAIVE class x value grid (absent values appear with cvn = 0),
        -- deliberately different from the engine's complement form
        SELECT cls.c_nationkey, cls.c_mktsegment, cls.class_size,
               vals.gv, tot.n, COALESCE(cv.cvn, 0) AS cvn
        FROM cls CROSS JOIN vals CROSS JOIN tot
        LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
                    AND cv.c_mktsegment = cls.c_mktsegment
                    AND cv.band = vals.band
    )
    SELECT c_nationkey, c_mktsegment, class_size,
           round(CAST(SUM(abs(cvn * n - gv * class_size)) AS DOUBLE)
                 / (2.0 * class_size * n), 6) AS tvd,
           round(CAST(SUM(abs(cvn * n - gv * class_size)) AS DOUBLE)
                 / (2.0 * class_size * n), 6) <= {T_CLOSE} AS meets_t
    FROM grid
    GROUP BY c_nationkey, c_mktsegment, class_size, n
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class total-variation distance of the balance-band
    distribution vs the global one (t = T_CLOSE) — the categorical EMD
    of the t-closeness paper. The engine computes the absent-value mass
    by complement (never a class x value grid); the oracle builds the
    naive grid, so the closed form is differentially certified. The
    numerator is exact BIGINT arithmetic on both sides — the single
    float division makes the 6-dp rounds bit-identical."""
    return P.t_closeness(
        _banded(spark, sf_dir), list(QI), "band", T_CLOSE
    )


@query(
    "privacy_suppress_release",
    oracle=f"""
    WITH sz AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        FROM customer GROUP BY 1, 2
    )
    SELECT c.c_custkey,
           CASE WHEN sz.n >= {K_ANON} THEN c.c_nationkey END AS c_nationkey,
           CASE WHEN sz.n >= {K_ANON} THEN c.c_mktsegment END AS c_mktsegment,
           sz.n < {K_ANON} AS suppressed
    FROM customer c
    JOIN sz ON sz.c_nationkey = c.c_nationkey
           AND sz.c_mktsegment = c.c_mktsegment
    """,
)
def privacy_suppress_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release step: QI columns of classes below K_ANON are nulled
    (suppressed rows merge into one class), everything else passes
    through — row-grain output, one QI aggregate joined back (AQE
    broadcasts the class table when small)."""
    out = P.suppress_release(
        load(spark, sf_dir, "customer").select("c_custkey", *QI),
        list(QI),
        K_ANON,
    )
    return out.select("c_custkey", *QI, "suppressed")


DP_EPSILON = 1.0
DP_SEED = "dp1"


@query(
    "privacy_dp_counts",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
               -- per-component md5 (fixed width) + null token: the key is
               -- collision-free over distinct QI tuples (r17 review)
               (CAST(CONCAT('0x', substr(md5(
                    concat_ws('|', '{DP_SEED}',
                              coalesce(md5(CAST(c_nationkey AS VARCHAR)), 'null'),
                              coalesce(md5(c_mktsegment), 'null'))
                ), 1, 13)) AS UBIGINT) + 0.5) / 4503599627370496.0 AS u
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(n AS BIGINT) AS true_count,
           round(n + -(1.0 / {DP_EPSILON}) * sign(u - 0.5)
                     * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_count
    FROM g
    """,
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism DP release of the per-QI counts
    (operators/privacy.py:dp_noisy_counts, epsilon = DP_EPSILON,
    sensitivity 1). Seeded md5-derived noise so the release is
    reproducible and the oracle recomputes the identical digest — see
    the operator's determinization caveat. true_count is emitted
    alongside for the differential check; a real release would project
    it away."""
    return P.dp_noisy_counts(
        load(spark, sf_dir, "customer").select(*QI),
        list(QI),
        DP_EPSILON,
        seed=DP_SEED,
    )


@query(
    "privacy_t_closeness_ordered",
    oracle=f"""
    WITH b AS (
        SELECT c_nationkey, c_mktsegment, {_BAND_SQL} AS band FROM customer
    ),
    cls AS (
        SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_size
        FROM b GROUP BY 1, 2
    ),
    vals AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS gv FROM b GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT band) AS BIGINT) AS m FROM b),
    cv AS (
        SELECT c_nationkey, c_mktsegment, band, CAST(COUNT(*) AS BIGINT) AS cvn
        FROM b GROUP BY 1, 2, 3
    ),
    grid AS (
        SELECT cls.c_nationkey, cls.c_mktsegment, cls.class_size,
               vals.band, vals.gv, tot.n, tot.m, COALESCE(cv.cvn, 0) AS cvn
        FROM cls CROSS JOIN vals CROSS JOIN tot
        LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
                    AND cv.c_mktsegment = cls.c_mktsegment
                    AND cv.band = vals.band
    ),
    -- NAIVE quadratic cumulative: each grid row re-sums every value at or
    -- below its band via a self-join (no window function), deliberately
    -- different from the engine's ordered-window prefix
    cum AS (
        SELECT g.c_nationkey, g.c_mktsegment, g.class_size, g.n, g.m, g.band,
               abs(SUM(g2.cvn * g2.n - g2.gv * g2.class_size)) AS acum
        FROM grid g
        JOIN grid g2 ON g2.c_nationkey = g.c_nationkey
                    AND g2.c_mktsegment = g.c_mktsegment
                    AND g2.band <= g.band
        GROUP BY 1, 2, 3, 4, 5, 6
    )
    SELECT c_nationkey, c_mktsegment, class_size,
           CASE WHEN m > 1
                THEN round(CAST(SUM(acum) AS DOUBLE)
                           / ((m - 1) * class_size * n), 6)
                ELSE 0.0 END AS emd,
           CASE WHEN m > 1
                THEN round(CAST(SUM(acum) AS DOUBLE)
                           / ((m - 1) * class_size * n), 6)
                ELSE 0.0 END <= {T_CLOSE} AS meets_t
    FROM cum
    GROUP BY c_nationkey, c_mktsegment, class_size, n, m
    """,
)
def privacy_t_closeness_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-attribute t-closeness (the 1-D EMD of Li et al. 2007) of
    the balance band per QI class: cumulative-difference mass over the
    GLOBAL ordered band domain, normalized by (m-1). The engine runs one
    ordered window over the m-row value domain per class (the grid is
    QI-cardinality x band-domain, never row-scale); the oracle re-derives
    each cumulative with a naive quadratic self-join — no window — so the
    prefix construction is differentially certified. Exact BIGINT
    cumulative numerators on both sides."""
    return P.t_closeness_ordered(
        _banded(spark, sf_dir), list(QI), "band", T_CLOSE
    )


KANON_STREAM_QI = ("event_type", "qi_bucket")
KANON_STREAM_K = 400


@query(
    "streaming_kanon_readout",
    oracle=f"""
    SELECT event_type,
           CAST(user_id % 50 AS BIGINT) AS qi_bucket,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           COUNT(*) >= {KANON_STREAM_K} AS meets_k
    FROM events
    GROUP BY event_type, user_id % 50
    """,
)
def streaming_kanon_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming privacy monitor end-to-end (streaming/privacy.py):
    the events log replayed via readStream -> foreachBatch partial-count
    MERGE into the generational state store, then the k-anonymity
    readout derived from the final state. The oracle is the batch
    groupBy — incremental-maintenance-equals-batch as a driver-checked
    query, the st8 pattern applied to the release-audit shelf. QI here
    is (event_type, user_id mod 50): a plausible released tuple with
    classes on both sides of k at every test SF."""
    from pasardassist_spark.streaming.generations import start_epochs
    from pasardassist_spark.streaming.ingest import (
        read_event_stream,
        stage_file_source,
    )
    from pasardassist_spark.streaming.privacy import (
        apply_kanon_batch,
        k_anonymity_from_state,
    )

    tmp = stage_file_source(sf_dir, "events", "pasard_kanon_")
    # read_event_stream, not a hand-declared schema: the stream schema
    # must come from the FILES (ts encodes as TIMESTAMP(NANOS)-as-long
    # on some testdata generations — the drift case ingest.py stages)
    stream = read_event_stream(spark, f"{tmp}/src").select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(50)).cast("long")
        .alias("qi_bucket"),
    )
    q = start_epochs(stream, f"{tmp}/ckpt", partial(
        apply_kanon_batch, state_dir=f"{tmp}/state", qi=KANON_STREAM_QI
    ))
    try:
        q.processAllAvailable()
    finally:
        # a mid-replay failure must not leak a running stream
        q.stop()
    return k_anonymity_from_state(
        spark, f"{tmp}/state", KANON_STREAM_QI, KANON_STREAM_K
    )


MONDRIAN_K = 50


@query(
    "privacy_mondrian_release",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS k_violations,
           CAST(0 AS BIGINT) AS size_mismatches,
           CAST(0 AS BIGINT) AS range_violations,
           CAST(0 AS BIGINT) AS out_of_range_rows
    FROM customer
    """,
)
def privacy_mondrian_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian multidimensional k-anonymization
    (operators/mondrian.py, k = MONDRIAN_K) over the numeric QI pair
    (c_acctbal, c_nationkey), ORACLE-GATED via the release audit (r17
    VERDICT #2): the recursive median-cut has no SQL form AND its cut
    values come from percentile_approx sketch merges (release boundaries
    are not partition-order-invariant), so the release itself can never
    hash-match — but its k-anonymity CONTRACT can: run the constructive
    half, then audit it — row grain preserved (n_rows = |customer|),
    every class >= k with a class_size consistent with the actual class
    count, lo <= hi on every range, and every original QI value inside
    its released [lo, hi] (re-joined to the source on c_custkey). Any
    broken cut, dropped row, or under-k leaf breaks the hash. The
    per-row release stays the production form (mondrian_anonymize;
    interval disjointness and the strict-variant utility ordering are
    pytest-pinned in tests/test_mondrian.py)."""
    from pasardassist_spark.operators.mondrian import mondrian_anonymize

    src = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    rel = mondrian_anonymize(
        src, ["c_acctbal", "c_nationkey"], MONDRIAN_K
    )
    cls = rel.groupBy("class_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("class_size").alias("_szmin"),
        F.max("class_size").alias("_szmax"),
    )
    cls_viol = cls.agg(
        F.sum((F.col("_n") < MONDRIAN_K).cast("long"))
        .alias("k_violations"),
        F.sum(
            ((F.col("_n") != F.col("_szmin"))
             | (F.col("_n") != F.col("_szmax"))).cast("long")
        ).alias("size_mismatches"),
    )
    row_viol = rel.join(src, "c_custkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            ((F.col("c_acctbal_lo") > F.col("c_acctbal_hi"))
             | (F.col("c_nationkey_lo") > F.col("c_nationkey_hi")))
            .cast("long")
        ).alias("range_violations"),
        F.sum(
            ((F.col("c_acctbal") < F.col("c_acctbal_lo"))
             | (F.col("c_acctbal") > F.col("c_acctbal_hi"))
             | (F.col("c_nationkey") < F.col("c_nationkey_lo"))
             | (F.col("c_nationkey") > F.col("c_nationkey_hi")))
            .cast("long")
        ).alias("out_of_range_rows"),
    )
    return row_viol.crossJoin(F.broadcast(cls_viol)).select(
        "n_rows", "k_violations", "size_mismatches",
        "range_violations", "out_of_range_rows",
    )


DP_TOPK_K = 10
DP_TOPK_SEED = "dptk1"


@query(
    "privacy_dp_topk",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
               (CAST(CONCAT('0x', substr(md5(
                    concat_ws('|', '{DP_TOPK_SEED}',
                              coalesce(md5(CAST(c_nationkey AS VARCHAR)), 'null'),
                              coalesce(md5(c_mktsegment), 'null'))
                ), 1, 13)) AS UBIGINT) + 0.5) / 4503599627370496.0 AS u
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    ),
    s AS (
        SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS true_count,
               n + -(2.0 * {DP_TOPK_K} / {DP_EPSILON}) * ln(-ln(u)) AS noisy
        FROM g
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(ROW_NUMBER() OVER (
               ORDER BY noisy DESC, c_nationkey, c_mktsegment
           ) AS BIGINT) AS rank,
           true_count,
           round(noisy, 6) AS noisy_score
    FROM s
    QUALIFY rank <= {DP_TOPK_K}
    """,
)
def privacy_dp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private top-k QI categories by the Gumbel-max
    mechanism (operators/privacy.py:dp_topk — Durfee & Rogers 2019:
    count + Gumbel(2k/epsilon) noise, take the k noisiest-largest,
    equivalent to k peeled exponential-mechanism rounds at total budget
    epsilon). Completes the DP release pair next to privacy_dp_counts
    (Laplace point release): counts answer "how many per class",
    top-k answers "WHICH classes dominate" without the full histogram's
    budget. Seeded md5-derived noise as in dp_counts, so the release is
    reproducible and the oracle recomputes the identical digest (see
    the operator's determinization caveat). true_count emitted for the
    differential check; a real release projects it away."""
    return P.dp_topk(
        load(spark, sf_dir, "customer").select(*QI),
        list(QI),
        DP_TOPK_K,
        DP_EPSILON,
        seed=DP_TOPK_SEED,
    )


RR_P = 0.75
RR_SEED = "rr-v1"


@query(
    "privacy_randomized_response",
    oracle=f"""
    WITH x AS (
        SELECT c_nationkey,
               CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS t,
               (CAST(CONCAT('0x', substr(md5(
                    concat_ws('|', '{RR_SEED}',
                              coalesce(md5(CAST(c_custkey AS VARCHAR)),
                                       'null'))
                ), 1, 13)) AS UBIGINT) + 0.5) / 4503599627370496.0 AS u
        FROM customer
    ),
    f AS (
        SELECT c_nationkey, t,
               CASE WHEN u < {RR_P} THEN t ELSE 1 - t END AS r
        FROM x
    ),
    g AS (
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r) AS BIGINT) AS reported_yes,
               CAST(SUM(t) AS BIGINT) AS true_yes
        FROM f GROUP BY 1
    )
    SELECT c_nationkey, n, reported_yes,
           round((CAST(reported_yes AS DOUBLE) / n - (1.0 - {RR_P}))
                 / (2.0 * {RR_P} - 1.0), 6) AS est_rate,
           round(CAST(true_yes AS DOUBLE) / n, 6) AS true_rate
    FROM g
    """,
)
def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner's randomized-response release
    (operators/privacy.py:randomized_response — Warner 1965): LOCAL
    differential privacy for the per-nation AUTOMOBILE-segment rate.
    Each customer reports their true segment membership with probability
    RR_P and the flip otherwise (respondent-side noise, epsilon =
    ln(p/(1-p)) ~ 1.10 per response); the per-nation rate is recovered
    by the debiasing estimator. Completes the DP sub-shelf's third leg:
    dp_counts (central, Laplace), dp_topk (central, Gumbel-max), and
    now the local model where the curator never sees a true bit.

    Seeded md5 coin keyed on c_custkey (row-unique, so flips are
    independent) — reproducible, the oracle recomputes identical flips;
    see the operator's determinization caveat. true_rate emitted for
    the utility check; a real release projects it away."""
    return P.randomized_response(
        load(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_nationkey",
            (F.col("c_mktsegment") == "AUTOMOBILE").cast("int").alias("is_auto"),
        ),
        "is_auto",
        ["c_nationkey"],
        RR_P,
        RR_SEED,
        key_cols=["c_custkey"],
    )
