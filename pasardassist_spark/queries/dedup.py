"""Dedup queries over the documents table, each with a DuckDB oracle that
re-derives the same md5-based pipeline in SQL — the oracle is a full
independent reimplementation, not a shortcut, so a hash match validates the
whole shingle->signature->bucket chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pasardassist_spark.operators import dedup as D
from pasardassist_spark.operators.text import tokens
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load, map_rows

_TOKS = "string_split_regex(trim(text), '\\s+')"
# distinct 5-gram shingles per doc (docs with >= 5 tokens)
_SHINGLES_SQL = f"""
        SELECT doc_id, unnest(list_distinct(
                   [array_to_string(t[i:i+4], ' ') FOR i IN range(1, len(t) - 3)]
               )) AS shingle
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        WHERE len(t) >= 5
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS content_hash,
           COUNT(*) OVER (PARTITION BY md5(lower(trim(text)))) AS n_copies,
           MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id,
           doc_id = MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS is_canonical
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: group size, canonical keeper id. The
    shuffle key is the 16-byte digest, so shuffle volume is O(rows) even when
    documents are megabytes."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return D.exact_dedup(d, "text", "doc_id").select(
        "doc_id", "content_hash", "n_copies", "keep_id", "is_canonical"
    )


# Shared CTE chain: shingles -> min-hash permutations -> band signatures.
# Both the pairs oracle and the clusters oracle build on the same text, so
# the two cannot drift from each other or from the Spark-side constants.
_MINHASH_CTES = f"""sh AS ({_SHINGLES_SQL}),
    mh AS (
        SELECT doc_id, p, MIN(md5(CAST(p AS VARCHAR) || ':' || shingle)) AS mh
        FROM sh CROSS JOIN (SELECT unnest(range(0, {D.N_PERMS})) AS p)
        GROUP BY doc_id, p
    ),
    bsig AS (
        SELECT doc_id, CAST(p // {D.N_PERMS // D.N_BANDS} AS INTEGER) AS band,
               string_agg(mh, '|' ORDER BY p) AS sig
        FROM mh GROUP BY 1, 2
    )"""

_MINHASH_PAIRS_SELECT = """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bsig a JOIN bsig b ON a.band = b.band AND a.sig = b.sig
                           AND a.doc_id < b.doc_id
    """


@query("dedup_minhash_lsh", oracle=f"WITH {_MINHASH_CTES}{_MINHASH_PAIRS_SELECT}")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: 5-word shingles -> 8 seeded-md5
    min-hash permutations -> 4 bands x 2 rows -> bucket self-join. No
    all-pairs comparison anywhere; candidate cost is per-bucket quadratic
    only (AQE skew-split handles hot buckets at scale)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return D.minhash_lsh_pairs(d, "text", "doc_id")


_HEXVAL = "(instr('0123456789abcdef', {d}) - 1)"


def _simhash_sig_sql(bits: int) -> str:
    """Signature CTE mirroring simhash_signatures(bits) — generated from the
    same constants so the two sides cannot drift. DuckDB raises on
    ``1 << 63``, so the 64-bit sign-bit weight is the min-long literal (the
    same two's-complement pattern Spark's shiftleft wraps to)."""
    if bits == 64:
        weight = (
            "CASE WHEN b = 0 THEN CAST(-9223372036854775808 AS BIGINT) "
            f"ELSE CAST(1 AS BIGINT) << CAST({bits - 1} - b AS INTEGER) END"
        )
    else:
        weight = f"CAST(1 AS BIGINT) << CAST({bits - 1} - b AS INTEGER)"
    return f"""
    WITH tok AS (
        SELECT doc_id, md5(unnest(list_distinct({_TOKS}))) AS h
        FROM documents
    ),
    votes AS (
        SELECT doc_id, b,
               SUM(CAST(floor({_HEXVAL.format(d="substr(h, CAST(b // 4 AS INTEGER) + 1, 1)")}
                   / power(2.0, 3 - (b % 4))) AS INTEGER) % 2 * 2 - 1) AS s
        FROM tok CROSS JOIN (SELECT unnest(range(0, {bits})) AS b)
        GROUP BY doc_id, b
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0
                        THEN {weight}
                        ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    )
"""


_SIMHASH_SIG_SQL = _simhash_sig_sql(D.SIMHASH_BITS)


@query("dedup_simhash", oracle=_SIMHASH_SIG_SQL + "SELECT doc_id, simhash FROM sig")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (md5 bit planes, majority vote).
    Near-dup retrieval joins on exact 8-bit quarters (see simhash_near_pairs)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return D.simhash_signatures(d, "text", "doc_id")


_PAIRS_BITS = 64  # the scale default: 16-bit slices = 65 536 buckets/slice


@query(
    "dedup_simhash_pairs",
    oracle=_simhash_sig_sql(_PAIRS_BITS)
    + f"""
    , blocks AS (
        SELECT doc_id, simhash, q,
               (simhash >> ({_PAIRS_BITS // 4} * q)) & {(1 << (_PAIRS_BITS // 4)) - 1} AS key
        FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS q)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM blocks a JOIN blocks b
      ON a.q = b.q AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the 64-bit scale width: exact 16-bit
    slice blocking (pigeonhole guarantees recall for Hamming distance <= 3
    over 4 slices) + full Hamming verify. The oracle re-derives the entire
    signature -> block -> verify chain in SQL at the same width. The 32-bit
    signature query (`dedup_simhash`) stays as the compact variant; recall
    at this width is additionally pytest-bounded vs brute force."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    sig = D.simhash_signatures(d, "text", "doc_id", bits=_PAIRS_BITS)
    return D.simhash_near_pairs(sig, "doc_id", max_hamming=3, bits=_PAIRS_BITS)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, lang, source, unnest(list_distinct(
                   [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
               )) AS g
        FROM (SELECT doc_id, lang, source, {_TOKS} AS t FROM documents)
        WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM grams a JOIN grams b
          ON a.g = b.g AND a.lang = b.lang AND a.source = b.source
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc_id
    JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard set-similarity join: inverted index on distinct
    3-word grams within (lang, source) blocks — the classic ppjoin-style
    shape, never a cross join."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    return D.jaccard_pairs(d, "text", "doc_id", ["lang", "source"], n=3, threshold=0.3)


EMBCOS_TAU = 0.35


@query(
    "dedup_embcos_exact",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)),
                 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)),
                6) >= {EMBCOS_TAU}
    """,
)
def dedup_embcos_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact baseline: pairs above the rounded
    cosine threshold. All-pairs on purpose (oracle-checkable reference);
    production dedup at corpus scale uses the LSH-blocked variant below."""
    from pasardassist_spark.operators.similarity import cosine_pairs

    emb = load(spark, sf_dir, "embeddings")
    return cosine_pairs(emb, EMBCOS_TAU)


# Transitive-closure CTE chain shared by the cluster query and the
# cluster-aware split: pairs -> symmetric edges -> frontier-BFS reachability
# -> min-label components -> every document labeled (singletons = self).
_CLUSTERS_CTES = f"""WITH RECURSIVE {_MINHASH_CTES},
    pairs AS ({_MINHASH_PAIRS_SELECT}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, r) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
    ),
    cc AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    labeled AS (
        SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
    )"""


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document — the Spark twin of the
    ``labeled`` CTE above."""
    from pasardassist_spark.operators.components import connected_components

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = D.minhash_lsh_pairs(d, "text", "doc_id")
    cc = connected_components(pairs, "doc_a", "doc_b")
    return (
        d.select("doc_id")
        .join(cc, F.col("doc_id") == F.col("node"), "left")
        .select("doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster_id"))
    )


@query(
    "dedup_clusters",
    oracle=_CLUSTERS_CTES
    + """
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM labeled
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the MinHash pair list: transitive closure via
    alternating large-star/small-star connected components
    (operators/components.py — O(log^2 n) shuffle rounds, diameter-proof),
    then every document labeled with its cluster's minimum doc_id, cluster
    size, and a canonical-keeper flag. Singletons are their own cluster.
    The oracle recomputes the closure with a recursive CTE over the same
    generated pair chain — a fully independent implementation (frontier
    BFS) of the same fixpoint."""
    from pasardassist_spark.operators.components import connected_components

    labeled = _cluster_labels(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return labeled.withColumn("cluster_size", F.count(F.lit(1)).over(w)).withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


TEST_BP = 1000  # basis points of 10000 => ~10% test split

# 16-bit md5 gate on the CLUSTER id (same construction as
# queries/sampling.py's doc-level gate)
_CLUSTER_GATE_SQL = """
    (instr('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)) - 1) * 4096
    + (instr('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 2, 1)) - 1) * 256
    + (instr('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 3, 1)) - 1) * 16
    + (instr('0123456789abcdef', substr(md5(CAST(cluster_id AS VARCHAR)), 4, 1)) - 1)
"""


@query(
    "split_by_cluster",
    oracle=_CLUSTERS_CTES
    + f"""
    SELECT doc_id, cluster_id,
           CASE WHEN {_CLUSTER_GATE_SQL} < {TEST_BP * 65536 // 10000}
                THEN 'test' ELSE 'train' END AS split
    FROM labeled
    """,
)
def split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split: the holdout gate hashes the
    CLUSTER id, not the document id, so a near-duplicate of a test
    document can never land in train (the leakage a doc-level split
    invites — and the reason dedup must run before splitting in every
    serious corpus build). ~10% test, deterministic under any
    partitioning; the per-document gate is pure column math on the
    cluster label."""
    labeled = _cluster_labels(spark, sf_dir)
    gate = F.conv(
        F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return labeled.withColumn(
        "split",
        F.when(gate < TEST_BP * 65536 // 10000, "test").otherwise("train"),
    )


@query("dedup_embcos_lsh")  # seeded-PRNG hyperplanes not SQL-portable: rows-only
def dedup_embcos_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, scale path: LSH bucket blocking (never
    all-pairs) + exact verify. Recall vs the exact baseline is asserted in
    tests/test_operators.py."""
    from pasardassist_spark.operators.similarity import cosine_pairs_lsh

    emb = load(spark, sf_dir, "embeddings")
    return cosine_pairs_lsh(emb, EMBCOS_TAU, dim=64)


@query(
    "dedup_passages",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents
               WHERE len({_TOKS}) >= 1),
    c AS (
        SELECT doc_id,
               unnest([{{'cpos': i - 1,
                         'passage': array_to_string(
                             toks[(i-1)*{D.PASSAGE_TOKENS}+1
                                  :(i-1)*{D.PASSAGE_TOKENS}+{D.PASSAGE_TOKENS}],
                             ' ')}}
                       FOR i IN range(
                           1,
                           CAST(ceil(len(toks)/{D.PASSAGE_TOKENS}.0) AS BIGINT)
                               + 1)],
                      recursive := true)
        FROM t
    ),
    r AS (
        SELECT doc_id, cpos, passage,
               row_number() OVER (
                   PARTITION BY passage ORDER BY doc_id, cpos
               ) = 1 AS is_first
        FROM c
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN is_first THEN passage END,
                               ' ' ORDER BY cpos), '') AS clean_text,
           CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped
    FROM r GROUP BY doc_id
    """,
)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style passage-level exact dedup: 10-token non-overlapping
    chunks, keep the globally first occurrence of each distinct passage
    (min (doc_id, cpos)), reassemble survivors in document order. Two
    O(corpus) hash shuffles — first-occurrence window keyed on the
    passage's md5 digest, reassembly keyed on doc_id — no self-join. The
    oracle re-derives the whole chunk->first->reassemble chain from the
    same tokenizer SQL, so chunk boundaries cannot drift between engines.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return D.passage_dedup(d, "text", "doc_id")


@query("dedup_semantic")  # k-means quantizer not SQL-portable: rows-only
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster-scoped semantic dedup
    — within-cluster cosine pairs >= tau, connected components, min-id
    canonical. Cost is sum(|cluster|^2) keyed on list_id, never corpus^2;
    cross-cluster dups are missed by design (the paper's approximation).
    Within-cluster completeness and invariants are pytest-asserted vs the
    exact all-pairs baseline (tests/test_operators.py)."""
    from pasardassist_spark.operators.similarity import semdedup

    emb = load(spark, sf_dir, "embeddings")
    return semdedup(emb, EMBCOS_TAU)


def _bsig_cte(src: str) -> str:
    """Band-signature CTE chain scoped to one side (snap/batch) — the same
    text as _MINHASH_CTES with the source table swapped, so the incremental
    oracle cannot drift from the self-dedup oracle."""
    return (
        f"sh_{src} AS ({_SHINGLES_SQL.replace('FROM documents', f'FROM {src}')}),\n"
        f"""mh_{src} AS (
        SELECT doc_id, p, MIN(md5(CAST(p AS VARCHAR) || ':' || shingle)) AS mh
        FROM sh_{src} CROSS JOIN (SELECT unnest(range(0, {D.N_PERMS})) AS p)
        GROUP BY doc_id, p
    ),
    bsig_{src} AS (
        SELECT doc_id, CAST(p // {D.N_PERMS // D.N_BANDS} AS INTEGER) AS band,
               string_agg(mh, '|' ORDER BY p) AS sig
        FROM mh_{src} GROUP BY 1, 2
    )"""
    )


@query(
    "dedup_incremental",
    oracle=f"""
    WITH snap AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    snap_hash AS (SELECT DISTINCT md5(lower(trim(text))) AS ch FROM snap),
    {_bsig_cte('snap')},
    {_bsig_cte('batch')},
    near_ids AS (
        SELECT DISTINCT bb.doc_id
        FROM bsig_batch bb
        JOIN (SELECT DISTINCT band, sig FROM bsig_snap) ss
          ON bb.band = ss.band AND bb.sig = ss.sig
    )
    SELECT b.doc_id,
           (sh.ch IS NOT NULL) AS dup_exact,
           (ni.doc_id IS NOT NULL) AS dup_near,
           (sh.ch IS NULL AND ni.doc_id IS NULL) AS keep
    FROM batch b
    LEFT JOIN snap_hash sh ON md5(lower(trim(b.text))) = sh.ch
    LEFT JOIN near_ids ni ON b.doc_id = ni.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup: even doc_ids stand in for the
    existing snapshot, odd ids for the fresh crawl batch; each new doc is
    flagged exact-dup (content hash in snapshot) and/or near-dup (shares a
    MinHash LSH band signature with any snapshot doc). The snapshot reduces
    to distinct digests + distinct band signatures before either join —
    the standing index an incremental 100 TB pipeline appends to per batch,
    so each increment is O(batch) + index joins, never new×old pairs."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    snap = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    return D.incremental_dedup(batch, snap, "text", "doc_id")


# --- duplicated n-gram span statistics (Lee et al. 2022 shape) -----------

SPAN_N = 8  # tokens per span; 50-token spans in the paper, scaled to fixture


@query(
    "dedup_span_ngrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sp AS (
        SELECT doc_id, md5(s) AS dig
        FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= {SPAN_N} THEN
                       [array_to_string(toks[i:i+{SPAN_N - 1}], ' ')
                        FOR i IN range(1, len(toks) - {SPAN_N - 2})]
                   ELSE [] END) AS s
            FROM t
        )
    ),
    c AS (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY dig) AS c
        FROM sp
    ),
    pd AS (
        SELECT doc_id,
               COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans
        FROM c GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(pd.n_spans, 0) AS n_spans,
           COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
           CASE WHEN pd.n_spans > 0 THEN
               round(CAST(pd.n_dup_spans AS DOUBLE) / pd.n_spans, 6)
           END AS dup_ratio
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN pd ON d.doc_id = pd.doc_id
    """,
)
def dedup_span_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span statistics (the detection half of 'Deduplicating
    Training Data Makes Language Models Better', Lee et al. 2022, with
    rolling 8-token spans standing in for the paper's 50): every
    overlapping word n-gram is digested, a window over the digest counts
    global occurrences, and each document reports how many of its spans
    are duplicated anywhere in the corpus. Two O(total-tokens) hash
    shuffles — digest then doc_id — never a self-join or suffix array;
    at 100 TB the span table is the corpus re-keyed, which is the honest
    lower bound for exact substring-level dup detection in a shuffle
    architecture. Reference analog: none (the reference dedups nothing);
    this is part of the LLM-pipeline extension surface."""
    from pasardassist_spark.operators.text import word_ngrams

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    spans = d.select(
        "doc_id",
        F.explode(word_ngrams(tokens(F.col("text")), SPAN_N)).alias("s"),
    ).select("doc_id", F.md5("s").alias("dig"))
    w = Window.partitionBy("dig")
    per_doc = (
        spans.select("doc_id", F.count(F.lit(1)).over(w).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(
                F.col("n_spans") > 0,
                F.round(
                    F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6
                ),
            ).alias("dup_ratio"),
        )
    )


SETJOIN_TAU = 0.9
SETJOIN_N = 3  # shingle width: set elements are 3-word n-grams


# The fully-NAIVE all-pairs form of this oracle (list_intersect over
# every doc_id < doc_id pair — no candidate generation of any kind).
# It exceeds the sweep's DuckDB wall budget at sf0.1 (O(n^2) pairs),
# so the registered oracle below enumerates candidates by shingle
# equi-join instead — LOSSLESS for tau > 0 (jaccard >= 0.9 needs >= 1
# shared shingle, and every sharing pair is enumerated; no prefix
# pruning, so the Spark side's prefix filter is still independently
# certified). The naive form stays the small-SF certificate via
# tests/test_oracle_parity.py::test_setjoin_naive_allpairs_oracle.
SETJOIN_NAIVE_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS tk
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               list_distinct([array_to_string(tk[i:i+{SETJOIN_N - 1}], ' ')
                              FOR i IN range(1, len(tk) - {SETJOIN_N - 2})])
                   AS toks
        FROM t WHERE len(tk) >= {SETJOIN_N}
    ),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.toks, b.toks)) AS i,
               len(a.toks) AS sa, len(b.toks) AS sb
        FROM s a JOIN s b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (sa + sb - i), 6) AS jaccard
    FROM p
    WHERE sa + sb - i > 0
      AND CAST(i AS DOUBLE) / (sa + sb - i) >= {SETJOIN_TAU}
    """


@query(
    "dedup_setjoin_prefix",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS tk
        FROM documents
    ),
    s AS (
        SELECT doc_id,
               unnest(list_distinct(
                   [array_to_string(tk[i:i+{SETJOIN_N - 1}], ' ')
                    FOR i IN range(1, len(tk) - {SETJOIN_N - 2})])) AS sh
        FROM t WHERE len(tk) >= {SETJOIN_N}
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
           FROM s GROUP BY doc_id),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS i
        FROM s a JOIN s b USING (sh)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM p JOIN sz sa ON sa.doc_id = doc_a
           JOIN sz sb ON sb.doc_id = doc_b
    WHERE sa.n + sb.n - i > 0
      AND CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {SETJOIN_TAU}
    """,
)
def dedup_setjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-set Jaccard >= 0.9 (SETJOIN_TAU) near-dup pairs via
    prefix filtering (operators/dedup.py:prefix_filtered_jaccard_pairs)
    — zero recall loss, unlike the MinHash/SimHash probabilistic
    variants, and never an all-pairs join: only each document's rarest
    |x| - ceil(t|x|) + 1 shingles enter the inverted index, so candidate
    blocks are rare-shingle posting lists (3-word shingling keeps
    posting lists cold even on a tiny word vocabulary — see the operator
    docstring). The oracle is the O(n^2) brute-force NOT-pruned form,
    feasible only at oracle scale — a hash match certifies the pruning
    lost nothing."""
    docs = load(spark, sf_dir, "documents")
    return D.prefix_filtered_jaccard_pairs(
        docs, "text", "doc_id", SETJOIN_TAU, ngram=SETJOIN_N
    )


@query(
    "text_boilerplate_strip",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents
               WHERE len({_TOKS}) >= 1),
    c AS (
        SELECT doc_id,
               unnest([{{'cpos': i - 1,
                         'passage': array_to_string(
                             toks[(i-1)*{D.PASSAGE_TOKENS}+1
                                  :(i-1)*{D.PASSAGE_TOKENS}+{D.PASSAGE_TOKENS}],
                             ' ')}}
                       FOR i IN range(
                           1,
                           CAST(ceil(len(toks)/{D.PASSAGE_TOKENS}.0) AS BIGINT)
                               + 1)],
                      recursive := true)
        FROM t
    ),
    dfc AS (
        SELECT passage, COUNT(DISTINCT doc_id) AS pdf
        FROM c GROUP BY passage
    ),
    r AS (
        SELECT c.doc_id, c.cpos, c.passage,
               dfc.pdf < {D.BOILERPLATE_MAX_DF} AS is_kept
        FROM c JOIN dfc USING (passage)
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN is_kept THEN passage END,
                               ' ' ORDER BY cpos), '') AS clean_text,
           CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN is_kept THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped
    FROM r GROUP BY doc_id
    """,
)
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal: passages whose document frequency
    reaches BOILERPLATE_MAX_DF (3) docs are dropped from EVERY document
    (first occurrence included) — the high-DF complement to
    dedup_passages' keep-first semantics. The oracle re-derives the whole
    chunk -> DF -> strip -> reassemble chain from the same tokenizer SQL,
    so chunk boundaries and the DF gate cannot drift between engines."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return D.boilerplate_strip(d, "text", "doc_id")


CONTAINMENT_TAU = 0.75


@query(
    "dedup_containment",
    oracle=f"""
    WITH s AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_src
              FROM s GROUP BY doc_id),
    p AS (
        SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM s a JOIN s b USING (shingle)
        WHERE a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT src_id, dst_id, n_src, n_shared,
           round(CAST(n_shared AS DOUBLE) / n_src, 6) AS containment
    FROM p JOIN sizes ON sizes.doc_id = p.src_id
    WHERE CAST(n_shared AS DOUBLE) / n_src >= {CONTAINMENT_TAU}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram containment near-subset pairs (Broder containment, tau=0.75):
    directed (src, dst) where >= 75% of src's distinct 5-gram shingles
    also occur in dst — catches a short document quoted inside a longer
    one, which Jaccard's union denominator hides. The oracle is the
    UNPRUNED brute-force shingle self-join, so the hash match certifies
    that the implementation's df>=2 candidate prune loses nothing."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return D.containment_pairs(
        d, "text", "doc_id", CONTAINMENT_TAU, ngram=5
    ).select(
        F.col("src_id").cast("long"), F.col("dst_id").cast("long"),
        "n_src", "n_shared", "containment",
    )


# ExactSubstr window: Lee et al. use 50 tokens at web scale; this corpus
# averages ~54 tokens/doc, so the fixture window is 20 — long enough that
# only genuinely shared passages (not n-gram noise) cross it, short enough
# that the planted near-dup corpus actually contains matches.
SUBSTR_MIN_TOKENS = 20


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id, pos,
               md5(array_to_string(
                   toks[pos:pos+{SUBSTR_MIN_TOKENS}-1], ' ')) AS h
        FROM t, unnest(range(1, len(toks)-{SUBSTR_MIN_TOKENS}+2)) u(pos)
    ),
    d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
    cov AS (SELECT doc_id, pos FROM g JOIN d USING (h)),
    hit AS (SELECT DISTINCT doc_id FROM cov),
    p AS (
        SELECT t.doc_id, u.p AS p, t.toks[u.p] AS tok
        FROM t JOIN hit USING (doc_id), unnest(range(1, len(toks)+1)) u(p)
    ),
    keep AS (
        SELECT p.doc_id, p.p, p.tok
        FROM p
        WHERE NOT EXISTS (
            SELECT 1 FROM cov c
            WHERE c.doc_id = p.doc_id
              AND p.p BETWEEN c.pos AND c.pos + {SUBSTR_MIN_TOKENS} - 1
        )
    ),
    agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM keep GROUP BY doc_id
    )
    SELECT t.doc_id,
           CASE WHEN hit.doc_id IS NOT NULL THEN coalesce(a.ct, '')
                ELSE t.text END AS clean_text,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CASE WHEN hit.doc_id IS NOT NULL
                THEN CAST(len(t.toks) AS BIGINT) - coalesce(a.n_kept, 0)
                ELSE 0 END AS n_removed
    FROM t
    LEFT JOIN hit USING (doc_id)
    LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022 §4.1): every token inside a
    >= 20-token substring that occurs more than once in the corpus — at
    arbitrary offsets, across or within documents — is removed from ALL
    copies (the released deduplicate-text-datasets policy). Distributed
    as a duplicated-k-gram coverage union instead of the paper's
    single-machine suffix array (operators/dedup.py:
    exact_substring_dedup); the oracle re-derives gram marking, coverage,
    and reassembly from the same tokenizer SQL, and a planted-corpus
    pytest certifies equality with offset-level brute force."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return D.exact_substring_dedup(d, "text", "doc_id", SUBSTR_MIN_TOKENS)


# ------------------------------------------------------------ soft dedup

# SoftDeDup (Xia et al. 2024, "SoftDedup: an Efficient Data Reweighting
# Method for Speeding Up Language Model Pre-training"): instead of
# REMOVING near-duplicates, down-weight each document by its "data
# commonness" — here the mean corpus document-frequency of its distinct
# 5-gram shingles (the same shingle universe every other dedup query
# uses), so a doc whose grams each appear in one document keeps weight
# 1.0 and a doc sharing all its grams with k others drops toward 1/k.
# weight = n_grams / sum(df) is exact integer division (no float
# accumulation order to diverge between engines).


@query(
    "dedup_soft_weights",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
           FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(df) AS BIGINT) AS sum_df,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(df), 9) AS soft_weight
    FROM sh s JOIN df USING (shingle)
    GROUP BY s.doc_id
    """,
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup reweighting (Xia et al. 2024): per-document sampling
    weight inversely proportional to commonness, measured as the mean
    corpus document-frequency of the doc's distinct 5-gram shingles
    (weight = n_grams / sum_df, exactly 1.0 for an all-unique doc).  The
    training-mixture complement to hard removal: duplicated content is
    down-sampled, not discarded, preserving the corpus distribution's
    tail.

    Scale shape: shingle explode -> one groupBy on the 16-byte gram
    digest domain for DF -> gram-keyed join back -> one per-doc sum; both
    shuffles are keyed on hashes (no skew: a gram's DF row is one row
    regardless of its frequency), shuffle volume O(total shingles) —
    identical to the MinHash pipeline's profile, no doc×doc pairing
    anywhere.  Ref semantics: the rarity/commonness scoring pattern of
    app.service.ts attribute rarity, applied to corpus curation."""
    sh = D.shingles(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        "text",
        "doc_id",
    )
    df = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("df"))
    return (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("df").cast("long").alias("sum_df"),
        )
        .select(
            "doc_id",
            "n_grams",
            "sum_df",
            F.round(
                F.col("n_grams").cast("double") / F.col("sum_df"), 9
            ).alias("soft_weight"),
        )
    )


# --------------------------------------------------------- novelty rate

# First-seen n-gram novelty (the WIMBD-family ingestion-order
# diagnostic, Elazar et al. 2024): treating doc_id as arrival order,
# a doc's novelty is the fraction of its distinct 5-gram shingles whose
# FIRST corpus occurrence is this doc. The curve over arrival order is
# the standing "is the crawl saturating?" readout; near-duplicate docs
# show up as novelty ~ 0 rows.


@query(
    "text_novelty_rate",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    fs AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = s.doc_id) AS BIGINT)
               AS n_novel,
           ROUND(CAST(COUNT(*) FILTER (WHERE f.first_doc = s.doc_id)
                      AS DOUBLE) / COUNT(*), 9) AS novelty_rate
    FROM sh s JOIN fs f USING (shingle)
    GROUP BY s.doc_id
    """,
)
def text_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document first-seen shingle novelty (see module comment):
    min-doc_id per gram via one groupBy on the gram digest, gram-keyed
    join back, per-doc fold — the dedup_soft_weights shuffle profile
    (hash-keyed only, O(total shingles), no doc x doc pairing). The
    min(doc_id) attribution is exact under any partitioning, so the
    query is order-stable at any scale."""
    sh = D.shingles(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        "text",
        "doc_id",
    )
    fs = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    return (
        sh.join(fs, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_grams"), 9
            ).alias("novelty_rate"),
        )
    )


# --------------------------------------- content-defined chunk dedup

@query("dedup_cdc_chunks")  # gear rolling hash is a prefix scan: rows-only
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplicate detection via FastCDC content-defined chunking
    (operators/chunking.py — gear rolling hash, [64,1024]-byte
    normalized chunks): byte spans SHARED between documents produce
    identical chunks even at different offsets, the property fixed-size
    blocking lacks and the reason dedup stores key on content-defined
    digests.  Docs with doc_id%9==7 carry the PREVIOUS doc's middle
    third spliced over their own (a genuine partial duplicate at a
    shifted offset); the readout per doc is chunk count, byte count,
    and the bytes sitting in chunks whose digest appears in >= 2
    documents — the injected pairs must light up, everything else stays
    dark.

    Plan: payload synthesis + chunking is one Arrow map pass; duplicate
    detection is a groupBy on chunk digest (the dedup-store partition
    key at 100 TB) + one digest-keyed join back; readout re-groups by
    doc.  No SQL oracle can exist (the gear hash is a sequential prefix
    scan); the vectorized chunker is pinned against a byte-at-a-time
    reference, invariants, and the resynchronization property in
    tests/test_chunking.py."""
    from pasardassist_spark.operators.chunking import cdc_chunks

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    prev = d.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("prev_text"),
    )
    joined = d.join(prev, "doc_id", "left")

    def _chunk(doc_id, text, prev_text):
        seed = int(doc_id)
        data = text.encode("utf-8")
        if seed % 9 == 7 and prev_text is not None:
            # splice the WHOLE previous doc into the middle: a genuine
            # partial duplicate at a shifted offset
            pb = prev_text.encode("utf-8")
            a, b = len(data) // 3, 2 * len(data) // 3
            data = data[:a] + pb + data[b:]
        for start, length, digest in cdc_chunks(data):
            yield seed, start, length, digest

    # persist (r18): three consumers (the shared-digest aggregate, the
    # semi-join left side, the per-doc rollup) — unstaged, the Python
    # chunking pass (the dominant cost, a JVM->Python boundary per guide
    # §4) ran three times. Chunk rows are digest proxies, never payload.
    chunks = map_rows(
        joined, _chunk, "doc_id long, start long, length long, digest string"
    ).persist()
    shared = (
        chunks.groupBy("digest")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("digest")
    )
    flagged = chunks.join(shared, "digest", "left_semi").groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("dup_chunks"),
        F.sum("length").cast("long").alias("dup_bytes"),
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("length").cast("long").alias("n_bytes"),
    )
    return (
        per_doc.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            "n_bytes",
            F.coalesce("dup_chunks", F.lit(0)).cast("long").alias("dup_chunks"),
            F.coalesce("dup_bytes", F.lit(0)).cast("long").alias("dup_bytes"),
        )
    )
