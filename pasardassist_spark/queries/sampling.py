"""Dataset-curation sampling (training-data pipeline ops).

Random ``df.sample`` is non-reproducible across runs/partitionings — a
disqualifier for dataset curation, where the same corpus snapshot must
yield the same training set every time. Both ops here are deterministic
pure-column math and therefore DuckDB-oracle-checkable:

- ``samp_deterministic``: hash-gate sampling — keep a row iff the first
  16 bits of md5(id) fall below rate·65536 (so SAMPLE_BP=1000 of 10000
  gives a ~9.999% gate, exact to 1/65536). Per-row independent, stable
  under any partitioning, reproducible across engines. The universal
  "hold out N% of the corpus" op.
- ``samp_class_cap``: per-class cap — at most N documents per language,
  preferring (deterministically) the lowest doc_id. The class-balancing
  step every multilingual corpus build runs; window top-k per key, one
  shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load, local_frame

SAMPLE_BP = 1000  # basis points of 10000 => 10% gate
CLASS_CAP = 50


@query(
    "samp_deterministic",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)
        < {SAMPLE_BP * 65536 // 10000}
    """,
)
def samp_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample: gate on the first 16 bits of md5(doc_id).
    Reproducible under any partitioning/run; the filter is pushed to the
    scan (pure columns)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    gate = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    )
    return d.filter(gate < SAMPLE_BP * 65536 // 10000)


# Mixture spec: per-source keep rates in basis points. The config every
# pretraining data build carries — upweight curated sources, downsample the
# crawl. Unlisted sources fall back to MIX_DEFAULT_BP.
MIX_SPEC_BP: dict[str, int] = {
    "src0": 10000, "src1": 10000, "src2": 10000, "src3": 10000, "src4": 10000,
    "src5": 5000, "src6": 5000, "src7": 5000, "src8": 5000, "src9": 5000,
}
MIX_DEFAULT_BP = 2500

_GATE_SQL = """(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)"""

_MIX_VALUES = ", ".join(f"('{s}', {bp})" for s, bp in MIX_SPEC_BP.items())


@query(
    "mix_sources",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents d
    LEFT JOIN (VALUES {_MIX_VALUES}) AS spec(src, bp) ON d.source = spec.src
    WHERE {_GATE_SQL} < COALESCE(spec.bp, {MIX_DEFAULT_BP}) * 65536 // 10000
    """,
)
def mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing / source reweighting: keep each document with a
    per-source rate from a broadcast mixture spec (curated sources kept
    whole, the crawl tail downsampled to MIX_DEFAULT_BP). The gate is the
    same deterministic md5 hash-gate as samp_deterministic — per-row
    independent, so the sampled mixture is reproducible under any
    partitioning and composes with it (a doc surviving a 25% gate also
    survives every looser gate). The spec joins as a broadcast dim: zero
    shuffle of the corpus at 100 TB."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    spec = F.broadcast(
        local_frame(
            spark, [(s, bp) for s, bp in MIX_SPEC_BP.items()], "src string, bp int"
        )
    )
    gate = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "long"
    )
    return (
        d.join(spec, d.source == spec.src, "left")
        .filter(
            gate
            < F.floor(F.coalesce(F.col("bp"), F.lit(MIX_DEFAULT_BP)) * 65536 / 10000)
        )
        .select("doc_id", "lang", "source")
    )


@query(
    "samp_class_cap",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn <= {CLASS_CAP}
    """,
)
def samp_class_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced cap: at most CLASS_CAP (50) docs per language,
    deterministic preference order (doc_id). WindowGroupLimit pushes the
    top-k below the shuffle, so per-class data never concentrates."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    w = W.partitionBy("lang").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CLASS_CAP)
        .drop("rn")
    )


RESERVOIR_K = 5


@query(
    "samp_reservoir_per_group",
    oracle=f"""
    SELECT event_id, event_type FROM (
        SELECT event_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rn
        FROM events
    ) WHERE rn <= {RESERVOIR_K}
    """,
)
def samp_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per group (distributed reservoir): rank
    rows within each group by a cryptographic hash of their id and keep
    the first K — equivalent in distribution to reservoir sampling but
    deterministic, mergeable, and rerun-stable (the property an audited
    corpus build needs; true reservoir state is order-dependent).

    Scale: Spark 4 pushes the rank<=K predicate into the shuffle as
    WindowGroupLimit — each map task keeps only its local top-K per
    group before the exchange, so the shuffle carries O(groups x K),
    not the table (plan-asserted in tests/test_plans.py)."""
    ev = load(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    h = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(h, "event_id")
    return (
        ev.select("event_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= RESERVOIR_K)
        .select("event_id", "event_type")
    )


# --- weighted reservoir (Efraimidis-Spirakis, derandomized) --------------

WRS_K = 50


@query(
    "samp_weighted_reservoir",
    oracle=f"""
    WITH u AS (
        SELECT event_id, event_type, value,
               (({_GATE_SQL.replace("doc_id", "event_id")}) + 1.0) / 65536.0
                   AS unif
        FROM events
    ),
    keyed AS (
        SELECT event_id, event_type, value,
               ln(unif) / (CAST(value AS DECIMAL(18,2)) + 1.0) AS k
        FROM u
    )
    SELECT event_id, event_type, value, rk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY k DESC, event_id
        ) AS rk
        FROM keyed
    ) WHERE rk <= {WRS_K}
    """,
)
def samp_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, K per event type
    (Efraimidis-Spirakis A-ES: rank by ln(u)/w, keep the K largest),
    DERANDOMIZED by deriving u from the row's 16-bit md5 gate — the same
    trick that makes samp_reservoir_per_group reproducible, extended to
    value-proportional inclusion (weight = value + 1 so zero-value rows
    stay sampleable). Deterministic on any engine/partitioning, and the
    rank-on-key pattern pushes into the shuffle as WindowGroupLimit, so
    the exchange carries O(groups x K), not the corpus. This is the
    'importance-sample N examples per source, weighted by quality score'
    primitive of curriculum data selection."""
    ev = load(spark, sf_dir, "events")
    unif = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        + 1.0
    ) / 65536.0
    k = F.log(unif) / (F.col("value").cast("decimal(18,2)") + 1.0)
    win = W.partitionBy("event_type").orderBy(F.col("k").desc(), "event_id")
    return (
        ev.select("event_id", "event_type", "value", k.alias("k"))
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= WRS_K)
        .select("event_id", "event_type", "value", "rk")
    )


# ------------------------------------------------------- UniMax weights

# UniMax (Chung et al., ICLR 2023) allocation knobs: budget = 1.5x the
# corpus token count, at most 2 epochs of any source — a regime where
# (at typical source-size dispersion) some sources hit the epoch cap and
# the rest share the remainder uniformly, exercising both branches.
UNIMAX_EPOCH_CAP = 2
UNIMAX_BUDGET_NUM, UNIMAX_BUDGET_DEN = 3, 2  # budget = 3/2 * total


def _unimax_oracle() -> str:
    from pasardassist_spark.queries.text import _TOKS_SQL

    c = UNIMAX_EPOCH_CAP
    t_expr = "(b - p) / CAST(n - rn AS DOUBLE)"
    alloc = "CASE WHEN t IS NULL THEN CAST(c AS DOUBLE) ELSE LEAST(CAST(c AS DOUBLE), t) END"
    return f"""
    WITH sz AS (
        SELECT source AS k, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS s
        FROM documents GROUP BY source
    ),
    par AS (
        SELECT ({UNIMAX_BUDGET_NUM} * SUM(s)) // {UNIMAX_BUDGET_DEN} AS b
        FROM sz
    ),
    caps AS (
        SELECT k, s, {c} * s AS c FROM sz
        UNION ALL SELECT NULL, 0, 0
    ),
    r AS (
        SELECT k, s, c,
               ROW_NUMBER() OVER (ORDER BY c, k) - 1 AS rn,
               SUM(c) OVER (ORDER BY c, k) AS p,
               LEAD(c) OVER (ORDER BY c, k) AS c_next,
               COUNT(*) OVER () - 1 AS n
        FROM caps
    ),
    lvl AS (
        SELECT MIN({t_expr}) AS t
        FROM r, par
        WHERE rn < n
          AND c <= {t_expr}
          AND (c_next IS NULL OR {t_expr} <= c_next)
    )
    SELECT k AS source, s AS n_tokens, c AS cap,
           ROUND({alloc}, 2) AS alloc,
           ROUND({alloc} / s, 6) AS epochs,
           ROUND({alloc} / CAST(b AS DOUBLE), 6) AS share
    FROM caps, lvl, par
    WHERE k IS NOT NULL
    """


@query("mix_unimax_weights", oracle=_unimax_oracle())
def mix_unimax_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixing weights (operators/mixing.py:unimax_allocation):
    per-source token counts from ONE corpus-sized groupBy, then the
    paper's greedy budget allocation computed in its closed waterfilling
    form over the metadata-scale source table. Output: each source's
    token allocation, epochs (<= UNIMAX_EPOCH_CAP by construction), and
    budget share. The 1-row total-tokens collect fixing the budget is
    metadata-scale (the same exemption as centroid/merge tables). Oracle
    re-derives the segment search independently in SQL, so the hash
    match certifies the closed form equals the spec on real dispersion,
    and the planted-regime pytests pin cap/uncapped/over-budget
    branches."""
    from pasardassist_spark.operators.mixing import unimax_allocation
    from pasardassist_spark.operators.text import token_count, tokens

    d = load(spark, sf_dir, "documents").select("source", "text")
    sz = d.groupBy("source").agg(
        F.sum(token_count(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    total = sz.agg(F.sum("n_tokens").cast("long").alias("t")).collect()[0].t
    budget = UNIMAX_BUDGET_NUM * total // UNIMAX_BUDGET_DEN
    return unimax_allocation(sz, budget, UNIMAX_EPOCH_CAP)


# --------------------------------------------------- temperature mixing

# Temperature-scaled mixture weights (Arivazhagan et al. 2019 §4.2; the
# mT5 recipe, Xue et al. 2021 §3.2): sample source k with probability
# proportional to n_k^alpha, alpha < 1 flattening the size distribution
# so low-resource sources are up-sampled. The standing published
# alternative to UniMax's epoch-capped allocation over the same
# per-source token counts.
TEMP_MIX_ALPHA = 0.3


def _temp_mix_oracle() -> str:
    from pasardassist_spark.queries.text import _TOKS_SQL

    return f"""
    WITH sz AS (
        SELECT lang, CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    )
    SELECT lang, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 9)
               AS raw_share,
           ROUND(pow(n_tokens, {TEMP_MIX_ALPHA})
                 / SUM(pow(n_tokens, {TEMP_MIX_ALPHA})) OVER (), 9)
               AS temp_weight,
           ROUND((pow(n_tokens, {TEMP_MIX_ALPHA})
                  / SUM(pow(n_tokens, {TEMP_MIX_ALPHA})) OVER ())
                 / (CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()), 9)
               AS boost
    FROM sz
    """


@query("mix_temperature_weights", oracle=_temp_mix_oracle())
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language-mixture weights (p_k proportional to
    n_k^alpha, alpha = 0.3 — the mT5 default): per-language token counts
    from ONE corpus-sized groupBy, then the normalization runs as an
    unbounded window over the metadata-scale language table (a handful
    of rows at any corpus size — no driver collect, no second shuffle of
    data-sized frames). `boost` reports each language's up/down-sampling
    factor vs its raw share. Complements mix_unimax_weights: the two
    published answers to the same mixing question, over identical
    inputs."""
    from pasardassist_spark.operators.text import token_count, tokens

    d = load(spark, sf_dir, "documents").select("lang", "text")
    sz = d.groupBy("lang").agg(
        F.sum(token_count(tokens(F.col("text")))).cast("long").alias("n_tokens")
    )
    w = W.partitionBy()
    n = F.col("n_tokens")
    p = F.pow(n, F.lit(TEMP_MIX_ALPHA))
    raw_share = n.cast("double") / F.sum(n).over(w)
    temp_weight = p / F.sum(p).over(w)
    return sz.select(
        "lang",
        "n_tokens",
        F.round(raw_share, 9).alias("raw_share"),
        F.round(temp_weight, 9).alias("temp_weight"),
        F.round(temp_weight / raw_share, 9).alias("boost"),
    )


# ----------------------------------------------------- k-center coreset

KCENTER_K = 16


@query("samp_kcenter_coreset")  # sequential-in-k greedy: rows-only
def samp_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-driven selection: the first KCENTER_K documents of a
    Gonzalez k-center greedy over the embedding space
    (operators/coreset.py) with the coverage radius at each pick — the
    KEEP-a-spread-subset complement to SemDeDup's REMOVE-the-dense-
    regions. Each round is map-only JVM column math against the newest
    center plus a 1-row TakeOrdered; the running min-distance column is
    folded incrementally so total work is O(k n d). Rows-only driver
    check (a sequential greedy has no SQL form); the 2-approximation
    bound, per-cluster coverage, radius monotonicity, and equality with
    a sequential reference are pytest-pinned (tests/test_coreset.py)."""
    from pasardassist_spark.operators.coreset import kcenter_table

    d = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kcenter_table(spark, d, "embedding", "vec_id", KCENTER_K)


# ------------------------------------------- exact stratified train/val/test

SPLIT_TRAIN_PCT = 80  # integer percents: thresholds are exact BIGINT math
SPLIT_VAL_PCT = 10


def _hkey40_sql(col: str = "doc_id") -> str:
    """DuckDB expression: first 40 bits of md5(CAST(col AS VARCHAR)) as a
    BIGINT, via the nibble-decode chain (the samp_deterministic pattern,
    widened from 4 to 10 hex digits)."""
    terms = [
        f"(instr('0123456789abcdef', substr(md5(CAST({col} AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (9 - i)}"
        for i in range(10)
    ]
    return "(" + "\n        + ".join(terms) + ")"


@query(
    "split_stratified_exact",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, {_hkey40_sql()} AS hkey FROM documents
    ),
    r AS (
        SELECT doc_id, lang,
               RANK() OVER (PARTITION BY lang ORDER BY hkey) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM d
    )
    SELECT doc_id, lang,
           CASE WHEN rk <= ({SPLIT_TRAIN_PCT} * n) // 100 THEN 'train'
                WHEN rk <= ({SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} * n) // 100
                    THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def split_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion stratified train/val/test split: within every
    language stratum, exactly floor(80% · n) docs are train and the next
    floor(10% · n) are val — the guarantee hash-GATE sampling
    (samp_deterministic) cannot give, needed whenever eval sets must hit
    their budgeted size per language. Ordering inside a stratum is by a
    40-bit md5 of doc_id, so membership is a pure function of (corpus,
    doc_id) — stable under repartitioning, re-runs, and engines.

    Spark plan — NO per-stratum global window: with few large strata a
    `Window.partitionBy(lang)` rank would route the whole corpus through
    |langs| tasks (the skew worst case). Instead the stratum index is
    packed into the high bits of a composite key above the 40-bit hash
    and the rank comes from the two-phase distributed prefix sum
    (operators/packing.py — 256 range buckets, each sorting locally),
    with per-stratum offsets/totals joined back from the metadata-scale
    stratum table. Rank ties (40-bit hash collisions) share a rank in
    BOTH engines (prefix-sum "strictly smaller" == RANK semantics), so
    the oracle certifies the assignment bit-for-bit; thresholds are
    integer BIGINT math (p·n // 100), no float boundary hazard."""
    from pasardassist_spark.operators.packing import exclusive_prefix_sum

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    hkey = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    d = d.withColumn("hkey", hkey)

    strata = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "stratum_idx",
            F.row_number().over(W.orderBy("lang")) - 1,
        )
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    W.orderBy("stratum_idx").rowsBetween(
                        W.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
    )
    keyed = (
        d.join(F.broadcast(strata), "lang")
        .withColumn("ckey", F.col("stratum_idx") * F.lit(1 << 41) + F.col("hkey"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    ranked = exclusive_prefix_sum(keyed, "ckey", "one", out="cnt_before")
    rk = F.col("cnt_before") - F.col("offset") + 1
    train_cut = F.expr(f"({SPLIT_TRAIN_PCT} * n) div 100")
    val_cut = F.expr(f"({SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} * n) div 100")
    return ranked.select(
        "doc_id",
        "lang",
        F.when(rk <= train_cut, F.lit("train"))
        .when(rk <= val_cut, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
