"""Similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pasardassist_spark.operators import similarity as S
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load, local_frame

QUERY_IDS = [0, 1, 2, 3, 4]
K = 10
DIM = 64


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e
          WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
    scored AS (
        SELECT q_id, e.vec_id AS neighbor_id,
               round(list_dot_product(qv, v)
                     / sqrt(list_dot_product(qv, qv) * list_dot_product(v, v)),
                     6) AS cosine
        FROM q JOIN e ON e.vec_id <> q_id
    )
    SELECT q_id, neighbor_id, cosine, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank
        FROM scored
    ) WHERE rank <= {K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 5 query vectors — the ANN
    correctness baseline. Query side broadcast; candidate corpus streams
    through one stage (no shuffle of the big side); cosine rounded to 6dp
    before ranking so order is engine-reproducible."""
    emb = load(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, QUERY_IDS, K)


@query("sim_lsh_ann")  # seeded-PRNG hyperplanes are not SQL-portable: rows-only
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via sign-random-projection LSH (N_TABLES x
    N_PLANES seeded hyperplanes — 4 x 6, operators/similarity.py:27-33):
    bucket-collision candidates at multi-probe radius 2 (the round-9
    default: recall@10 0.98 vs radius 1's 0.74 at equal search time),
    exact re-rank. The scale path: at 100 TB the bucket id is the
    bucketing/partition key, so a query probes ~22 of 64 buckets per
    table instead of scanning the corpus. Recall floor asserted in
    tests/test_operators.py."""
    emb = load(spark, sf_dir, "embeddings")
    return S.ann_topk(emb, QUERY_IDS, K, DIM)


@query("sim_ivf_ann")  # k-means centroids are not SQL-portable: rows-only
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF (seeded k-means coarse quantizer, 16
    lists, probe 4): the data-adaptive counterpart to sim_lsh_ann. At scale
    list_id is the partition key. Recall vs brute force asserted in
    tests/test_operators.py."""
    emb = load(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, QUERY_IDS, K)


@query("sim_ivfpq_ann")  # k-means codebooks are not SQL-portable: rows-only
def sim_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via OPQ + IVF-PQ (Jégou et al. 2011; Ge et al.
    2013): an orthogonal OPQ rotation (trained by Procrustes alternation
    on the driver sample, applied as a broadcast matmul inside the
    encode pass) aligns the data before the 8 x 4-bit PQ codes; IVF
    prunes to 12 of 16 lists, asymmetric distance scores candidates from
    codes against a per-query lookup table (raw vectors never touched),
    then an exact refine re-ranks the top 480 per query. The query side
    is computed on the driver: the five query vectors are collected once,
    rotated, and their lookup tables folded in Python, and they join the
    plan as one broadcast local frame (operators/similarity.py).  The
    memory-budget scale path: the serving index is m small ints per
    vector (16-32x smaller than the float rows sim_ivf_ann re-reads).
    Recall vs brute force and the OPQ objective/lift are asserted in
    tests/test_operators.py; the rotation is measured a no-op on this
    near-isotropic corpus and decisive on anisotropic data (BASELINE.md
    round 12)."""
    emb = load(spark, sf_dir, "embeddings")
    # r19: one training-sample collect shared by the OPQ alternation and
    # the codebook fits (identical matrix -> identical rotation/books/
    # codes/results; the build previously collected it twice)
    X = S.pq_training_matrix(emb)
    rot = S.opq_rotation(emb, DIM, sample_X=X)
    return S.ivfpq_topk(emb, QUERY_IDS, K, DIM, rotation=rot, sample_X=X)


@query(
    "emb_normalize_quantize",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    m AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS ma
        FROM e
    )
    SELECT vec_id,
           round(sqrt(list_dot_product(v, v)), 6) AS l2_norm,
           CASE WHEN ma IS NULL OR ma = 0 THEN NULL
                ELSE array_to_string(
                    list_transform(v, x -> CAST(round(x * 127.0 / ma) AS INTEGER)), ',')
           END AS q8
    FROM m
    """,
)
def emb_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding storage prep: L2 norm (6dp — the same rounding contract as
    the cosine queries) + symmetric int8 quantization (scale = 127/max|x|
    per vector, round-half-away ties — identical in both engines). The
    8x-smaller q8 column is what a 100 TB embedding store actually ships
    to ANN serving; all math is built-in array expressions, zero Python.
    Zero vectors quantize to NULL rather than dividing by zero.

    q8 is emitted as a comma-joined string (not a raw array column): the
    driver's comparator canonicalizes via a pandas sort, which cannot hash
    list cells — the serialized form is oracle-comparable and losslessly
    parseable back to int8."""
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    d = emb.select("vec_id", v.alias("v")).withColumn(
        "ma", F.array_max(F.transform("v", lambda x: F.abs(x)))
    )
    q8 = F.array_join(
        F.transform(
            "v", lambda x: F.round(x * 127.0 / F.col("ma")).cast("int").cast("string")
        ),
        ",",
    )
    return d.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("l2_norm"),
        F.when(F.col("ma").isNull() | (F.col("ma") == 0), F.lit(None).cast("string"))
        .otherwise(q8)
        .alias("q8"),
    )


PCA_K = 8


@query("emb_pca_project")  # eigenvector internals engine-specific: rows-only
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus to PCA_K components
    (operators/pca.py): per-partition moment fold -> d^2-sized summary
    merge -> driver eigh -> broadcast components -> Arrow-batched
    projection. Data never shuffles; the only exchange carries moment
    rows. Eigenvector sign/ordering is pinned (descending eigenvalue,
    largest-coordinate-positive), but the numerics are BLAS-specific, so
    the driver records a rows-only check; variance ordering,
    orthonormality, and reconstruction optimality are pytest-asserted
    in tests/test_pca.py.

    `proj` ships as a comma-joined 6dp string — the same serialization
    contract as emb_normalize_quantize's q8: the driver's comparator
    canonicalizes via a pandas sort, which cannot hash list cells, so a
    raw array<double> column crashes even the rows-only check
    (CORRECTNESS_r06's one red row)."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.pca import pca_project

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", S.as_double(F.col("embedding")).alias("v")
    )
    out = pca_project(emb, "v", "vec_id", PCA_K)
    return out.select(
        "vec_id",
        F.array_join(
            F.transform("proj", lambda x: F.round(x, 6).cast("string")), ","
        ).alias("proj"),
    )


@query("emb_zca_whiten")  # BLAS-specific eigh numerics: rows-only
def emb_zca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening of the embedding corpus (operators/pca.py:
    zca_whiten): same shuffle-free moment-fold -> driver eigh ->
    Arrow-matmul skeleton as emb_pca_project, but applying the
    symmetric V diag(1/sqrt(eigval+eps)) V^T transform — the standard
    embedding-preprocessing step that equalizes variance while staying
    basis-aligned (whitened covariance == I is THE property, asserted
    in tests/test_pca.py together with a direct-numpy differential).
    Rows-only driver check (eigh numerics are BLAS-specific); the same
    comma-joined 6dp serialization contract as emb_pca_project."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.pca import zca_whiten

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", S.as_double(F.col("embedding")).alias("v")
    )
    out = zca_whiten(emb, "v", "vec_id")
    return out.select(
        "vec_id",
        F.array_join(
            F.transform("proj", lambda x: F.round(x, 6).cast("string")), ","
        ).alias("proj"),
    )


@query("sim_ivf_autotune")  # k-means centroids not SQL-portable: rows-only
def sim_ivf_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-recall probe selection (VERDICT r12 #9): build the IVF
    index once, measure the FULL recall@10-vs-n_probe curve on a
    deterministic hash-gated held-out sample in one plan
    (operators/similarity.py:ivf_probe_curve — each exact neighbor's
    list gets a centroid-cosine rank, so recall at p is a histogram
    prefix sum, no per-p re-search), and emit the smallest n_probe
    meeting each of three recall targets.  The 0.88 bench ceiling
    becomes a dial: deployments pick the target, the tuner picks the
    probes.  Output (target_bp, n_probe, achieved_bp at 4dp) is
    deterministic; minimality + monotonicity + that ivf_topk at the
    chosen probe count actually achieves the target on the sample are
    pytest-pinned in tests/test_operators.py."""
    from pasardassist_spark.operators.similarity import (
        ivf_assignments,
        tune_n_probe,
    )

    emb = load(spark, sf_dir, "embeddings")
    assignments, centroids = ivf_assignments(emb)
    rows = []
    for target in (0.70, 0.85, 0.95):
        p, achieved, _curve = tune_n_probe(
            emb, target, K, assignments=assignments, centroids=centroids
        )
        rows.append((int(round(target * 10000)), p, int(round(achieved * 10000))))
    return local_frame(
        spark, rows, "target_bp int, n_probe int, achieved_bp int"
    )
