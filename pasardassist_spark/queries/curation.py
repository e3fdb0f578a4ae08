"""End-to-end corpus curation: the composition every training-data build
runs — quality gate, language-ID agreement, exact dedup — as ONE declarative
plan, demonstrating that the individual operators (queries/text.py,
operators/dedup.py) fuse instead of materializing between stages.

Plan shape (and why it scales): the quality score and language scores are
pure column math, so Catalyst fuses them into the parquet scan projection
and applies the row-local filters BEFORE the only shuffle — the
content-hash window for dedup then re-partitions just the surviving rows.
One shuffle total, at the filtered (not raw) row count; at 100 TB the
quality/lang gates typically drop 30-60% of the corpus before any data
moves.

Dedup runs on the FILTERED pool by design (dedup the kept corpus, not the
raw one): a low-quality copy of a kept document must not steal canonical
status from the surviving copy.

Oracle SQL is assembled from the SAME generated fragments as the individual
text queries (stopword/marker constants, score weights), so the composite
cannot drift from its parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from pasardassist_spark.caching import scratch_dir
from pasardassist_spark.operators import dedup as D
from pasardassist_spark.operators import text as X
from pasardassist_spark.queries.registry import query
from pasardassist_spark.queries.text import (
    _STOP_SQL,
    _TOKS_SQL,
)
from pasardassist_spark.tables import export_shards, load, local_frame, map_rows

MIN_SCORE = 0.4  # keep medium-or-better quality (see text_quality buckets)
PACK_BUDGET = 512  # tokens per packed training sequence


def _curate_corpus_oracle() -> str:
    from pasardassist_spark.queries.text import langid_v2_cte_sql

    return f"""
    WITH {langid_v2_cte_sql()},
    scored AS (
        SELECT s.doc_id, s.lang, s.text, s.n_tokens,
               least(1.0, CAST(s.n_tokens AS DOUBLE) / 50.0) * 0.4
                   + s.stop_ratio * 0.3 + s.ttr * 0.3 AS score,
               v.predicted_lang
        FROM (
            SELECT doc_id, lang, text,
                   CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
                   CAST({_STOP_SQL} AS DOUBLE) / len({_TOKS_SQL}) AS stop_ratio,
                   CAST(len(list_distinct({_TOKS_SQL})) AS DOUBLE)
                       / len({_TOKS_SQL}) AS ttr
            FROM documents
        ) s
        JOIN v2pred v ON v.doc_id = s.doc_id
    ),
    kept AS (
        SELECT doc_id, lang, n_tokens, score,
               md5(lower(trim(text))) AS content_hash
        FROM scored
        WHERE score >= {MIN_SCORE} AND predicted_lang = lang
    )
    SELECT doc_id, lang, n_tokens, score
    FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY content_hash) AS keep_id
        FROM kept
    )
    WHERE doc_id = keep_id
    """


@query("curate_corpus", oracle=_curate_corpus_oracle())
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline: quality >= MIN_SCORE, predicted language must
    agree with the tagged language (the standard mislabeled-document drop),
    then exact dedup keeps the minimum doc_id per content hash among the
    SURVIVORS. Row-local gates run before the single content-hash shuffle.

    Round 12: the language gate upgraded from the 4-language marker
    heuristic to the 20-language hashed char-trigram model
    (operators/langid.py) — still scan-fused JVM column math, the model a
    folded literal inside the plan."""
    from pasardassist_spark.operators import langid as LI

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = X.tokens(F.col("text"))
    n_tok = X.token_count(toks)
    stop_ratio = X.hits(toks, X.STOPWORDS).cast("double") / n_tok
    ttr = X.distinct_token_count(toks).cast("double") / n_tok
    score = X.quality_score(n_tok, stop_ratio, ttr)
    pred = LI.predict_lang_v2(F.col("text"))["lang"]
    kept = (
        d.withColumn("n_tokens", n_tok)
        .withColumn("score", score)
        .withColumn("predicted_lang", pred)
        .filter((F.col("score") >= MIN_SCORE) & (F.col("predicted_lang") == F.col("lang")))
        .withColumn("content_hash", D.content_hash(F.col("text")))
    )
    w = W.partitionBy("content_hash")
    return (
        kept.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "lang", "n_tokens", "score")
    )


@query(
    "pack_training_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM t
    )
    SELECT doc_id, n_tokens, cum_before,
           cum_before // {PACK_BUDGET} AS seq_id,
           cum_before % {PACK_BUDGET} AS seq_offset,
           (cum_before + n_tokens - 1) // {PACK_BUDGET}
               > cum_before // {PACK_BUDGET} AS crosses_boundary
    FROM c
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: documents laid end-to-end in doc_id
    order, a training sequence cut every PACK_BUDGET tokens; each doc gets
    its sequence id, in-sequence offset, and a straddles-the-cut flag.
    The global prefix sum runs as the DISTRIBUTED two-phase form
    (operators/packing.py — range-bucketed parallel cumsum + broadcast
    bucket offsets, never a single-partition global window); the oracle
    computes the same layout with DuckDB's global window — an independent
    implementation differentially verifying the two-phase machinery."""
    from pasardassist_spark.operators.packing import pack_sequences

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.select("doc_id", X.token_count(X.tokens(F.col("text"))).alias("n_tokens"))
    return pack_sequences(d, "doc_id", "n_tokens", PACK_BUDGET).select(
        "doc_id", "n_tokens", "cum_before", "seq_id", "seq_offset", "crosses_boundary"
    )


@query(
    "pack_split_segments",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum
        FROM t
    ),
    seg AS (
        SELECT doc_id, n_tokens, cum,
               cum // {PACK_BUDGET} AS s0,
               (cum + n_tokens - 1) // {PACK_BUDGET} AS s1
        FROM c WHERE n_tokens > 0
    ),
    fan AS (
        SELECT doc_id, n_tokens, cum,
               unnest(range(s0, s1 + 1)) AS seq_id
        FROM seg
    )
    SELECT doc_id,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(CASE WHEN seq_id * {PACK_BUDGET} > cum THEN 0
                ELSE cum - seq_id * {PACK_BUDGET} END AS BIGINT) AS seq_offset,
           CAST(GREATEST(seq_id * {PACK_BUDGET} - cum, 0) AS BIGINT) AS tok_start,
           CAST(LEAST((seq_id + 1) * {PACK_BUDGET}, cum + n_tokens)
                - GREATEST(seq_id * {PACK_BUDGET}, cum) AS BIGINT) AS tok_len
    FROM fan
    """,
)
def pack_split_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTABLE packing layout: one row per (document, sequence)
    segment, so boundary-crossing documents are actually split — each
    segment knows its sequence, its offset inside the sequence, and which
    token span of the document it carries (per-doc spans partition the
    document exactly; pytest pins sum(tok_len) == n_tokens and
    sequence-fill completeness). The fan-out is a JVM sequence+explode
    over each doc's span — no shuffle beyond pack_sequences' one prefix
    sum; the oracle re-derives every segment from the global window."""
    from pasardassist_spark.operators.packing import pack_and_split

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.select("doc_id", X.token_count(X.tokens(F.col("text"))).alias("n_tokens"))
    return pack_and_split(d, "doc_id", "n_tokens", PACK_BUDGET).select(
        "doc_id", "seq_id", "seq_offset", "tok_start", "tok_len"
    )



# Deterministic synthetic-PII augmentation: the corpus is synthetic words
# with no real PII, so the differential test plants it — BOTH engines build
# the same augmented text (varied per doc: email on doc_id%2, IP on %3,
# phone on %5), then redact with the same pattern chain. The md5 of the
# redacted text pins exact match spans, not just counts.
_AUG_SQL = """text
        || CASE WHEN doc_id % 2 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR)
                || '@mail.example' ELSE '' END
        || CASE WHEN doc_id % 3 = 0 THEN ' from 10.2.'
                || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"""


def _aug_col() -> "F.Column":
    doc = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            doc % 2 == 0,
            F.concat(F.lit(" reach user"), doc.cast("string"), F.lit("@mail.example")),
        ).otherwise(F.lit("")),
        F.when(
            doc % 3 == 0,
            F.concat(F.lit(" from 10.2."), (doc % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(
            doc % 5 == 0,
            F.concat(F.lit(" call 555-"), F.lpad((doc % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )


def _pii_oracle() -> str:
    from pasardassist_spark.operators.text import PII_PATTERNS

    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{name}s"
        for name, pat, _ in PII_PATTERNS
    )
    red = "t"
    for _, pat, marker in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{marker}', 'g')"
    return f"""
    SELECT doc_id,
           {counts},
           md5({red}) AS redacted_hash
    FROM (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
    """


@query("pii_redact", oracle=_pii_oracle())
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and redact emails / IPv4 / phone patterns
    (operators/text.PII_PATTERNS — a shared Java-regex/RE2 dialect subset,
    applied in order so emails redact before their digit runs can
    half-match as IPs). Pure JVM regexp over the scan — the corpus scrub
    every release pipeline runs before training, at parquet-scan speed at
    100 TB. Counts and the md5 of the redacted text are differentially
    checked against DuckDB's independent regex engine (RE2)."""
    from pasardassist_spark.operators.text import redact_pii

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.select("doc_id", _aug_col().alias("t"))
    red, counts = redact_pii(F.col("t"))
    return aug.select(
        "doc_id",
        *[c.alias(f"n_{name}s") for name, c in counts.items()],
        F.md5(red).alias("redacted_hash"),
    )


EVAL_MOD = 50  # doc_id % EVAL_MOD == 0 marks the held-out benchmark set

# Reuse the exact shingle fragment the MinHash oracle is built from, so the
# contamination check cannot drift from the dedup chain's shingle definition.
from pasardassist_spark.queries.dedup import _SHINGLES_SQL


@query(
    "contamination_flags",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0),
    hits AS (
        SELECT s.doc_id, COUNT(*) AS n_shared
        FROM sh s JOIN ev ON s.shingle = ev.shingle
        WHERE s.doc_id % {EVAL_MOD} <> 0
        GROUP BY s.doc_id
    )
    SELECT d.doc_id, CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
           h.n_shared IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % {EVAL_MOD} <> 0
    """,
)
def contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination check: flag every training document sharing
    any 5-word shingle with the held-out eval set (docs with
    doc_id % EVAL_MOD == 0 stand in for the benchmark table). The eval
    side collapses to DISTINCT shingles before the inverted-index join —
    at 100 TB that set is benchmark-sized (millions of shingles, not
    corpus-sized) and broadcasts; the train side joins at its natural
    size, count per doc, no pairwise comparison anywhere. Same shingle
    constants as the MinHash chain (operators/dedup.shingles)."""
    from pasardassist_spark.operators.dedup import shingles

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    sh = shingles(d, "text", "doc_id")
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev = sh.filter(is_eval).select("shingle").distinct()
    hits = (
        sh.filter(~is_eval)
        .join(ev, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        d.select("doc_id")
        .filter(~is_eval)
        .join(hits.withColumnRenamed("doc_id", "h_doc_id"),
              F.col("doc_id") == F.col("h_doc_id"), "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.col("h_doc_id").isNotNull().alias("contaminated"),
        )
    )


DSIR_BUCKETS = 1024
_DSIR_HB = 0.5 * DSIR_BUCKETS  # add-0.5 smoothing mass across all buckets


@query(
    "curate_dsir_weights",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ),
    btok AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(unnest(toks)), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
        FROM t
    ),
    q AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cq FROM btok GROUP BY b),
    p AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cp FROM btok WHERE lang = 'en' GROUP BY b),
    tots AS (
        SELECT CAST((SELECT SUM(cq) FROM q) AS DOUBLE) AS tq,
               CAST((SELECT SUM(cp) FROM p) AS DOUBLE) AS tp
    ),
    wgt AS (
        SELECT q.b,
               ln((coalesce(cp, 0) + 0.5) / (tp + {_DSIR_HB}))
             - ln((cq + 0.5) / (tq + {_DSIR_HB})) AS lw
        FROM q LEFT JOIN p ON q.b = p.b CROSS JOIN tots
    ),
    dw AS (
        SELECT doc_id, ROUND(SUM(lw), 6) AS weight
        FROM btok JOIN wgt USING (b) GROUP BY doc_id
    )
    SELECT doc_id, weight,
           ROUND(weight - ln(-ln(
               (('0x' || substr(md5('g:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                + 0.5) / 4294967296.0)), 6) AS sample_key
    FROM dw
    """,
)
def curate_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed-unigram bag
    features (md5 -> DSIR_BUCKETS=1024 buckets), target distribution p from
    the in-domain subset (lang='en' standing in for the target corpus),
    raw distribution q from everything; each document's log importance
    weight is the sum of per-token bucket log-ratios ln(p_b/q_b) with
    add-0.5 smoothing. The Gumbel-top-k trick makes weighted sampling
    WITHOUT replacement deterministic and distributed: sample_key =
    weight + Gumbel(md5-seeded uniform per doc); taking the global top-k
    keys IS the importance resample (TakeOrdered at scale — asserted in
    tests/test_operators.py).

    Spark plan: the bucket vocabulary is FIXED size (DSIR_BUCKETS rows)
    regardless of corpus size — both distributions and the per-bucket
    weight table stay broadcast at 100 TB; the corpus shuffles exactly
    twice (bucket count, per-doc sum), both map-side combinable."""
    d = load(spark, sf_dir, "documents")
    from pasardassist_spark.operators.text import tokens

    btok = d.select(
        "doc_id",
        "lang",
        F.explode(tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % DSIR_BUCKETS).alias("b"),
    )
    q = btok.groupBy("b").agg(F.count(F.lit(1)).alias("cq"))
    p = btok.where(F.col("lang") == "en").groupBy("b").agg(F.count(F.lit(1)).alias("cp"))
    tots = q.agg(F.sum("cq").cast("double").alias("tq")).crossJoin(
        p.agg(F.sum("cp").cast("double").alias("tp"))
    )
    wgt = (
        q.join(p, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log((F.coalesce("cp", F.lit(0)) + 0.5) / (F.col("tp") + _DSIR_HB))
                - F.log((F.col("cq") + 0.5) / (F.col("tq") + _DSIR_HB))
            ).alias("lw"),
        )
    )
    dw = (
        btok.join(F.broadcast(wgt), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lw"), 6).alias("weight"))
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("g:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / F.lit(4294967296.0)
    return dw.select(
        "doc_id",
        "weight",
        F.round(F.col("weight") - F.log(-F.log(u)), 6).alias("sample_key"),
    )


CHUNK_SIZE = 64
CHUNK_STRIDE = 48


@query(
    "chunk_documents",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           s AS chunk_start,
           CAST(len(toks[s + 1 : s + {CHUNK_SIZE}]) AS BIGINT) AS n_tokens,
           array_to_string(toks[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text
    FROM t, unnest(generate_series(0, CAST(len(toks) AS BIGINT) - 1,
                                   {CHUNK_STRIDE})) AS g(s)
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document split into overlapping
    CHUNK_SIZE-token windows at CHUNK_STRIDE (the HF-style sliding window
    for training/RAG over long documents; the stride < size overlap keeps
    boundary-spanning context in some window). Pure built-in array math —
    sequence() generates the window starts, slice() takes each window, no
    Python anywhere; the 1->N fan-out is an explode, so at 100 TB it is
    map-local row amplification feeding the downstream shuffle-free
    writes, never a join."""
    from pasardassist_spark.operators.text import tokens

    t = load(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    ch = t.select("doc_id", "toks", F.explode(starts).alias("s"))
    window = F.slice("toks", F.col("s") + 1, CHUNK_SIZE)
    return ch.select(
        "doc_id",
        F.col("s").alias("chunk_start"),
        F.size(window).cast("long").alias("n_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )


@query(
    "src_jsonl_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source connector, closed-loop: export the documents table as
    newline-delimited JSON and read it back under the ORIGINAL schema with
    FAILFAST (sources/textio.py). The oracle is the parquet table itself —
    the check is lossless value round-tripping through the text format,
    i.e. the correctness property a corpus-interchange boundary needs.
    All-string/long schema keeps the comparison exact (no float repr
    round-trip in this table).

    Side effect: building the plan writes the JSONL export (a source
    connector cannot be exercised without bytes on disk). Each call gets a
    fresh ``caching.scratch_dir`` — no cross-run collisions — and the dir
    is removed at the next ``release_all`` (the query boundary), after the
    lazy read has run."""
    from pasardassist_spark.sources.textio import read_jsonl, write_jsonl

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    tmp = scratch_dir("pasard_jsonl_")
    write_jsonl(d, tmp)
    return read_jsonl(spark, tmp, d.schema)


# --- hashed linear quality classifier ------------------------------------

# fasttext-style linear scorer over a hashed bag of words. The weight
# vector is a fixed integer-arithmetic function of the bucket id, so BOTH
# engines can compute it inline (no weight table to ship) and the per-doc
# sum stays in exact integers — bit-stable at any partitioning. A trained
# model drops in by replacing _bucket_weight with a broadcast array lookup;
# the plumbing (hash -> bucket -> weight -> normalized score -> gate) is
# the deliverable.
QC_BUCKETS = 64


def _bucket_weight_col(tok):
    """Integer weight in [-9, 9] from the token's 16-bit md5 prefix."""
    h = F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("long")
    return (h % QC_BUCKETS) * 37 % 19 - 9


_QC_HEX16 = (
    "((instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096"
    " + (instr('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(t), 4, 1)) - 1))"
)


@query(
    "curate_quality_classifier",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               len(toks) AS n_tok,
               CAST(list_sum(list_transform(toks,
                   t -> ({_QC_HEX16} % {QC_BUCKETS}) * 37 % 19 - 9))
                   AS BIGINT) AS w_sum
        FROM t
    )
    SELECT doc_id, n_tok, w_sum,
           COALESCE(w_sum > 0, FALSE) AS keep
    FROM s
    """,
)
def curate_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over a hashed bag of words (the fasttext
    classifier shape used by CCNet/GPT-3 data filtering): each token hashes
    to one of {QC_BUCKETS} buckets, the bucket's weight accumulates, and
    the document keeps iff the (length-normalized) score is positive.

    The whole scorer is ONE F.aggregate fold over the token array — pure
    JVM column math inside the scan projection, zero shuffles, no UDF. At
    100 TB this is the cheapest possible gate: it runs at scan speed and
    feeds its verdict into the same fused filter as the other quality
    gates (curate_corpus).

    The score is carried as the exact rational (w_sum, n_tok) — an
    sf0.1 sweep caught a doc whose normalized score hit an exact 6-dp
    rounding TIE (-41/640 = -0.0640625: Spark rounds half-up, DuckDB
    half-to-even), so a rounded-double score column is a cross-engine
    hazard by construction whenever the denominator is 2^k·5^m; the
    integer pair carries strictly more information with zero float."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    w_sum = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + _bucket_weight_col(t).cast("long"),
    )
    s = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        w_sum.alias("w_sum"),
    )
    return s.select(
        "doc_id",
        "n_tok",
        "w_sum",
        F.coalesce(F.col("w_sum") > 0, F.lit(False)).alias("keep"),
    )


# --------------------------------------------------- Gopher quality rules

# Rae et al. 2021 (Gopher), Table A1 — the published heuristic gate most
# large English corpus builds start from. Thresholds are the paper's.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOP_HITS = 2


def _gopher_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPS)
    toks = _TOKS_SQL
    return f"""
    WITH m AS (
        SELECT doc_id,
               CAST(len({toks}) AS BIGINT) AS n_words,
               CAST(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                    AS DOUBLE) / len({toks}) AS mean_word_len,
               (CAST(length(text) - length(replace(text, '#', ''))
                     AS DOUBLE)
                + (length(text) - length(replace(text, '...', ''))) / 3)
                   / len({toks}) AS symbol_ratio,
               CAST(len(list_filter({toks},
                        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
                   / len({toks}) AS alpha_ratio,
               CAST(len(list_filter({toks}, t -> t IN ({stops})))
                    AS BIGINT) AS stop_hits
        FROM documents
    )
    SELECT doc_id, n_words,
           round(mean_word_len, 6) AS mean_word_len,
           round(symbol_ratio, 6) AS symbol_ratio,
           round(alpha_ratio, 6) AS alpha_ratio,
           stop_hits,
           (n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}
            AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
            AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
            AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
            AND alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}
            AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
    FROM m
    """


@query("curate_gopher_rules", oracle=_gopher_oracle())
def curate_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule gate (Rae et al. 2021, Table A1): word count in
    [50, 100k], mean word length in [3, 10], symbol-to-word ratio
    ('#'/'...') <= 0.1, >= 80% words containing an alphabetic character,
    and >= 2 hits on the paper's stopword octet — the published heuristic
    filter complementing curate_quality_classifier's learned score. All
    rules are row-local JVM column math fused into the parquet scan
    (zero shuffle, zero UDF); thresholds compare the same unrounded
    expression trees on both engines, 6-dp rounding only on the emitted
    ratios. (The paper's line-level rules — bullet/ellipsis line
    fractions — are vacuous on this newline-free corpus and omitted;
    symbol ratio keeps the '...' count.)"""
    d = load(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    nospace = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
    mean_wl = nospace.cast("double") / F.size(toks)
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ell = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / 3
    symbol_ratio = (n_hash.cast("double") + n_ell) / F.size(toks)
    alpha_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / F.size(toks)
    )
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*GOPHER_STOPS))
    ).cast("long")
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_ratio >= GOPHER_MIN_ALPHA_RATIO)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )


# --------------------------------------------------------------- C4 rules

# C4 cleaning (Raffel et al. 2020, "Exploring the Limits of Transfer
# Learning...", §2.2). The corpus here is newline-free word soup, so —
# like pii_redact — the query first RESTRUCTURES each doc into a 3/4-line
# page with the SAME deterministic doc_id-keyed augmentation on both
# engines: line 1 gets a terminal '.' on even ids, line 2 gets
# ' javascript.' on ids %3 (line-level drop rule) else '!', line 3 gets
# ' lorem ipsum.' on ids %5 (page-level drop rule) else '?', and ids %7
# append a 'var cfg = {' line (page-level '{' rule). Every C4 rule then
# has both firing and non-firing rows at any sf.
C4_MIN_LINE_WORDS = 5  # paper: "lines that contained at least 5 words"
C4_MIN_SENTENCES = 3  # paper: "pages that contained at least 3 sentences"
_C4_TERMINAL_RE = '[.!?"]$'  # period / exclamation / question / end-quote


def _c4_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    aug AS (
        SELECT doc_id,
               concat_ws(chr(10),
                   array_to_string(toks[1:(len(toks) // 3)], ' ')
                     || CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END,
                   array_to_string(
                       toks[(len(toks) // 3 + 1):(2 * len(toks) // 3)], ' ')
                     || CASE WHEN doc_id % 3 = 0
                             THEN ' javascript.' ELSE '!' END,
                   array_to_string(
                       toks[(2 * len(toks) // 3 + 1):len(toks)], ' ')
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' lorem ipsum.' ELSE '?' END,
                   CASE WHEN doc_id % 7 = 0 THEN 'var cfg = {{' END
               ) AS page
        FROM t),
    k AS (
        SELECT doc_id, page, string_split(page, chr(10)) AS ls,
               list_filter(string_split(page, chr(10)),
                   l -> regexp_matches(l, '{_C4_TERMINAL_RE}')
                        AND len(string_split_regex(trim(l), '\\s+'))
                            >= {C4_MIN_LINE_WORDS}
                        AND NOT contains(lower(l), 'javascript')) AS kept
        FROM aug),
    kc AS (
        -- array_to_string([]) is NULL in DuckDB but '' in Spark: coalesce
        SELECT *, coalesce(array_to_string(kept, chr(10)), '') AS clean
        FROM k),
    m AS (
        SELECT doc_id,
               CAST(len(ls) AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept_lines,
               CAST(length(clean)
                    - length(regexp_replace(clean, '[.!?]', '', 'g'))
                    AS BIGINT) AS n_sentences,
               contains(lower(page), 'lorem ipsum') AS has_lorem,
               contains(page, '{{') AS has_brace,
               md5(clean) AS clean_hash
        FROM kc)
    SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
           (NOT has_lorem AND NOT has_brace
            AND n_sentences >= {C4_MIN_SENTENCES}) AS keep,
           clean_hash
    FROM m
    """


@query("curate_c4_rules", oracle=_c4_oracle())
def curate_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2) over deterministically
    re-lined pages (see module comment): keep only lines ending in
    terminal punctuation ('.', '!', '?', '\"'), with >= 5 words, and not
    mentioning 'javascript'; drop whole pages containing 'lorem ipsum' or
    '{' or retaining < 3 sentences (terminal-mark count over the kept
    text). The paper's bad-word list and 3-sentence-span dedup are
    covered elsewhere (curate_quality_classifier, dedup_passages).

    Scale shape: augmentation, line split, the line filter, and every
    page metric are row-local JVM column math fused into the parquet scan
    — zero shuffle, zero UDF; at 100 TB this is the classic
    scan-speed-bounded first pass of a C4-style build. Ref semantics:
    the quality-gate stage of app.service.ts-style collection curation,
    widened to the published web-corpus recipe."""
    d_ = F.col("doc_id")
    toks = X.tokens(F.col("text"))
    n = F.size(toks)
    a = F.floor(n / 3).cast("int")
    b = F.floor(n * 2 / 3).cast("int")
    l1 = F.concat(
        F.array_join(F.slice(toks, F.lit(1), a), " "),
        F.when(d_ % 2 == 0, F.lit(".")).otherwise(F.lit("")),
    )
    l2 = F.concat(
        F.array_join(F.slice(toks, a + 1, b - a), " "),
        F.when(d_ % 3 == 0, F.lit(" javascript.")).otherwise(F.lit("!")),
    )
    l3 = F.concat(
        F.array_join(F.slice(toks, b + 1, n - b), " "),
        F.when(d_ % 5 == 0, F.lit(" lorem ipsum.")).otherwise(F.lit("?")),
    )
    l4 = F.when(d_ % 7 == 0, F.lit("var cfg = {"))
    page = F.concat_ws("\n", l1, l2, l3, l4)

    line_words = lambda l: F.size(F.split(F.trim(l), r"\s+"))  # noqa: E731
    keep_line = lambda l: (  # noqa: E731
        l.rlike(_C4_TERMINAL_RE)
        & (line_words(l) >= C4_MIN_LINE_WORDS)
        & ~F.contains(F.lower(l), F.lit("javascript"))
    )
    staged = (
        load(spark, sf_dir, "documents")
        .select("doc_id", page.alias("page"))
        .withColumn("ls", F.split("page", "\n"))
        .withColumn("kept", F.filter("ls", keep_line))
        .withColumn("clean", F.array_join("kept", "\n"))
    )
    n_sentences = (
        F.length("clean")
        - F.length(F.regexp_replace("clean", r"[.!?]", ""))
    ).cast("long")
    has_lorem = F.contains(F.lower("page"), F.lit("lorem ipsum"))
    has_brace = F.contains("page", F.lit("{"))
    return staged.select(
        "doc_id",
        F.size("ls").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (
            ~has_lorem
            & ~has_brace
            & (n_sentences >= C4_MIN_SENTENCES)
        ).alias("keep"),
        F.md5("clean").alias("clean_hash"),
    )


@query(
    "src_warc_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def src_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC 1.0 source/sink, closed-loop (sources/warc.py): export the
    documents table as 8 .warc.gz shards (one gzip member per record,
    the Common Crawl layout) — doc metadata carried in the
    WARC-Target-URI (doc://<source>/<doc_id>?lang=..&n=..), text as the
    record payload — then read the shards back with the binaryFile +
    mapInPandas parser and reconstruct the original rows from URI +
    payload. Oracle is the parquet table itself: the check is lossless
    round-tripping through the web-archive interchange format (Common
    Crawl's wire format), the same property src_jsonl_roundtrip pins for
    JSONL. Write is task-parallel (shard per partition), read is
    task-parallel (shard per task) — no driver funnel either way; the
    only collect is the 8-row shard manifest."""
    from pasardassist_spark.sources.warc import read_warc, write_warc

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    uri = F.concat(
        F.lit("doc://"), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="), F.col("lang"),
        F.lit("&n="), F.col("n_chars").cast("string"),
    )
    staged = d.select(
        F.col("doc_id").cast("string").alias("record_id"),
        F.col("text").alias("payload"),
        uri.alias("uri"),
    ).repartition(8, "record_id")

    tmp = export_shards(
        write_warc, staged, "pasard_warc_", uri_col="uri", compress=True
    )

    rec = read_warc(spark, tmp)
    u = F.col("target_uri")
    return rec.select(
        F.col("record_id").cast("long").alias("doc_id"),
        F.col("payload").alias("text"),
        F.regexp_extract(u, r"\?lang=([^&]*)&", 1).alias("lang"),
        F.regexp_extract(u, r"^doc://([^/]*)/", 1).alias("source"),
        F.regexp_extract(u, r"&n=(\d+)$", 1).cast("long").alias("n_chars"),
    )


# ------------------------------------------------------ URL normalization

# RefinedWeb-style URL canonicalization + dedup (Penedo et al. 2023 §3.1:
# URL dedup is the FIRST stage of their pipeline, before any content
# fetch). The documents table carries no URL, so — the pii_redact pattern
# — each doc synthesizes one deterministically from (doc_id, source) with
# every normalizer-relevant wart injected on id-keyed residues: mixed-case
# host, www. prefix, explicit default port, utm_* tracking params,
# unsorted param order. Both engines build the same URL, so the oracle
# differentially checks the normalizer, the blocklist gate, and the
# canonical-per-URL dedup.
URL_BLOCKLIST = ("src3.example.com", "src13.example.com")


def _url_oracle() -> str:
    blocked = ", ".join(f"'{d}'" for d in URL_BLOCKLIST)
    return f"""
    WITH raw AS (
        SELECT doc_id,
               'http://'
               || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END
               || source || '.Example.COM'
               || CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END
               || '/p/' || CAST(doc_id // 7 AS VARCHAR)
               || CASE WHEN doc_id % 2 = 0
                       THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
                       WHEN doc_id % 5 = 0
                       THEN '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_campaign=x'
                       ELSE '' END AS url
        FROM documents),
    lc AS (
        SELECT doc_id,
               replace(replace(lower(url), '://www.', '://'), ':80/', '/')
                   AS u
        FROM raw),
    parts AS (
        SELECT doc_id, string_split(u, '?')[1] AS base,
               list_sort(list_filter(
                   string_split(coalesce(string_split(u, '?')[2], ''), '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_'))) AS params
        FROM lc),
    norm AS (
        SELECT doc_id,
               base || CASE WHEN len(params) > 0
                            THEN '?' || array_to_string(params, '&')
                            ELSE '' END AS url_norm
        FROM parts),
    d AS (
        SELECT doc_id, url_norm,
               regexp_extract(url_norm, '://([^/:]+)', 1) AS domain
        FROM norm)
    SELECT doc_id, url_norm, domain,
           domain IN ({blocked}) AS blocked,
           doc_id = MIN(doc_id) OVER (PARTITION BY url_norm) AS is_canonical
    FROM d
    """


@query("curate_url_dedup", oracle=_url_oracle())
def curate_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup + domain blocklist gate —
    the first stage of a RefinedWeb-style pipeline (see module comment
    for the deterministic URL synthesis). Normalizer: lowercase, strip
    'www.' and explicit default port, drop utm_* tracking params, sort
    the survivors (param order is not identity). Dedup keeps the minimum
    doc_id per normalized URL — ONE hash shuffle on url_norm; the
    normalizer and blocklist are row-local column math at scan speed. At
    100 TB the blocklist side is a broadcast (here an IN-literal; a
    million-domain list drops in as a broadcast semi-join on `domain`
    with the same plan shape)."""
    d_ = F.col("doc_id")
    url = F.concat(
        F.lit("http://"),
        F.when(d_ % 4 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".Example.COM"),
        F.when(d_ % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p/"), F.floor(d_ / 7).cast("string"),
        F.when(
            d_ % 2 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (d_ % 5).cast("string")),
        )
        .when(
            d_ % 5 == 0,
            F.concat(F.lit("?id="), (d_ % 5).cast("string"),
                     F.lit("&utm_campaign=x")),
        )
        .otherwise(F.lit("")),
    )
    u = F.replace(
        F.replace(F.lower(url), F.lit("://www."), F.lit("://")),
        F.lit(":80/"), F.lit("/"),
    )
    base = F.get(F.split(u, r"\?"), 0)
    params = F.array_sort(
        F.filter(
            F.split(F.coalesce(F.get(F.split(u, r"\?"), 1), F.lit("")), "&"),
            lambda p: (p != "") & ~p.startswith("utm_"),
        )
    )
    url_norm = F.concat(
        base,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(params, "&")),
        ).otherwise(F.lit("")),
    )
    staged = (
        load(spark, sf_dir, "documents")
        .select("doc_id", url_norm.alias("url_norm"))
        .withColumn(
            "domain", F.regexp_extract("url_norm", r"://([^/:]+)", 1)
        )
    )
    w = W.partitionBy("url_norm")
    return staged.select(
        "doc_id",
        "url_norm",
        "domain",
        F.col("domain").isin(*URL_BLOCKLIST).alias("blocked"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_canonical"),
    )


# ------------------------------------------------- CCNet quality buckets

# CCNet (Wenzek et al. 2020 §4.3) buckets each language's corpus into
# head/middle/tail by LM perplexity terciles. Production computes the
# tercile CUTOFFS on a sample and gates every row locally against the
# broadcast cutoffs — never a full-corpus per-language sort; the sample
# here is a 50% deterministic md5 gate (small fixture; production uses
# 1-10%, same plan). Head = best score (highest mean logprob = lowest
# perplexity). Scoring reuses text_unigram_logprob's model exactly.
CCNET_SAMPLE_BP = 5000


def _ccnet_oracle() -> str:
    from pasardassist_spark.queries.mining import _md5_16bit_sql

    gate = _md5_16bit_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
    t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tot FROM v),
    lp AS (
        SELECT doc_id, ROUND(AVG(log10(cnt / tot)), 6) AS avg_logprob
        FROM tok JOIN v USING (tok) CROSS JOIN t
        GROUP BY doc_id
    ),
    scored AS (
        SELECT d.doc_id, d.lang, lp.avg_logprob
        FROM documents d JOIN lp ON d.doc_id = lp.doc_id
    ),
    samp AS (
        SELECT * FROM scored
        WHERE {gate} < {CCNET_SAMPLE_BP * 65536 // 10000}
    ),
    ranked AS (
        SELECT lang, doc_id, avg_logprob,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY avg_logprob DESC, doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM samp
    ),
    cuts AS (
        SELECT lang,
               MAX(CASE WHEN rn = CAST(ceil(n / 3.0) AS BIGINT)
                        THEN avg_logprob END) AS c1,
               MAX(CASE WHEN rn = CAST(ceil(2 * n / 3.0) AS BIGINT)
                        THEN avg_logprob END) AS c2
        FROM ranked GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.avg_logprob,
           CASE WHEN c.c1 IS NULL THEN 'head'
                WHEN s.avg_logprob >= c.c1 THEN 'head'
                WHEN s.avg_logprob >= c.c2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s LEFT JOIN cuts c ON s.lang = c.lang
    """


@query("curate_ccnet_buckets", oracle=_ccnet_oracle())
def curate_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality bucketing (see block comment):
    unigram-LM score per doc (one vocab groupBy + broadcast-back, the
    text_unigram_logprob plan), tercile cutoffs from a deterministic
    sample via a per-language rank window ON THE SAMPLE ONLY, cutoffs
    broadcast, bucket assignment row-local. The corpus-sized frames see
    one groupBy and zero sorts — the reason CCNet's own implementation
    samples: a full per-language sort of 100 TB is the plan this shape
    exists to avoid. Cutoff selection is rank-positional (value at
    ceil(n/3)), not interpolated, so both engines pick the identical
    cutoff value and the hash comparison stays exact."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # NOT persisted (r18): staging the exploded token stream was
    # A/B-measured +36-38% SLOWER at both 32 and 8 cores — the cache
    # write of the full (id, token) stream costs more than the second
    # scan+tokenize it saves here.
    tok = d.select(
        "doc_id", F.explode(X.tokens(F.col("text"))).alias("tok")
    )
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("double").alias("tot"))
    lp = (
        tok.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log10(F.col("cnt") / F.col("tot"))), 6).alias(
                "avg_logprob"
            )
        )
    )
    scored = d.select("doc_id", "lang").join(lp, "doc_id")
    gate = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    samp = scored.filter(gate < CCNET_SAMPLE_BP * 65536 // 10000)
    wl = W.partitionBy("lang")
    ranked = samp.select(
        "lang",
        "avg_logprob",
        F.row_number()
        .over(wl.orderBy(F.desc("avg_logprob"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(wl).alias("n"),
    )
    cuts = ranked.groupBy("lang").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") / 3.0).cast("long"),
                F.col("avg_logprob"),
            )
        ).alias("c1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 2 / 3.0).cast("long"),
                F.col("avg_logprob"),
            )
        ).alias("c2"),
    )
    return scored.join(F.broadcast(cuts), "lang", "left").select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.when(F.col("c1").isNull(), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("c1"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@query(
    "src_tfrecord_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def src_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord source/sink, closed-loop (sources/tfrecord.py): export
    the documents table as 8 CRC32C-framed tf.train.Example shards
    (strings as BytesList, longs as Int64List — exact types only, no
    float32 lossiness), read them back under the original schema, and
    match the parquet table byte-for-byte. Third of the interchange
    trio (JSONL, WARC, TFRecord): the export side of a training-data
    build feeding a TF/JAX input pipeline. Write and read are both
    task-parallel over shards; the only collect is the shard
    manifest."""
    from pasardassist_spark.sources.tfrecord import (
        read_tfrecord,
        write_tfrecord,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    staged = d.repartition(8, "doc_id")
    tmp = export_shards(write_tfrecord, staged, "pasard_tfr_")
    return read_tfrecord(spark, tmp, d.schema)


@query(
    "pack_bfd_assignments",
    oracle=f"""
    WITH t AS (
        SELECT CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(0 AS BIGINT) AS dup_assignments,
           CAST(0 AS BIGINT) AS over_budget_packs,
           CAST(0 AS BIGINT) AS over_depth_packs,
           CAST(0 AS BIGINT) AS bad_overflow_packs
    FROM t
    """,
)
def pack_bfd_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split sequence packing (Krell et al. 2021, SPFHP; see
    operators/binpack.py), ORACLE-GATED via its feasibility certificate
    (r17 VERDICT #2): the greedy itself is sequential over the length
    histogram (no SQL form), but its CONTRACT is fully SQL-pinnable —
    every document assigned exactly once (n_docs and total token mass
    match the corpus, zero duplicate ids), every packed pack within the
    PACK_BUDGET token budget and the 16-doc depth cap, every overflow
    pack a singleton. A dropped/duplicated doc or an overfilled pack
    breaks the hash. The per-doc assignment output stays the production
    form (operators/binpack.pack_bfd; exact equality with a pure-Python
    reference, fill >= 0.9, and the depth-cap sweep are pytest-pinned
    in tests/test_round9_ops.py)."""
    from pasardassist_spark.operators.binpack import pack_bfd

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.select(
        "doc_id", X.token_count(X.tokens(F.col("text"))).alias("n_tokens")
    )
    # NOT persisted (r18 adjudication): the certificate's two consumers
    # share only cheap post-skeleton joins (the tokenize skeleton is
    # already persisted INSIDE pack_bfd, and the driver greedy runs once
    # per invocation regardless) — a persist here A/B-measured a wash
    # (3.02x vs 3.02x control-normalized). The bench delta vs r17 is the
    # certificate's intrinsic added aggregates (r17 VERDICT #2 feature),
    # not a staging defect.
    asg = pack_bfd(d, "doc_id", "n_tokens", PACK_BUDGET, max_depth=16)
    packs = asg.groupBy("pack_id", "overflow").agg(
        F.sum("n_tokens").alias("_toks"),
        F.count(F.lit(1)).alias("_depth"),
    )
    pack_viol = packs.agg(
        F.sum(
            ((~F.col("overflow")) & (F.col("_toks") > PACK_BUDGET))
            .cast("long")
        ).alias("over_budget_packs"),
        F.sum(
            ((~F.col("overflow")) & (F.col("_depth") > 16)).cast("long")
        ).alias("over_depth_packs"),
        F.sum(
            (F.col("overflow") & (F.col("_depth") != 1)).cast("long")
        ).alias("bad_overflow_packs"),
    )
    doc_viol = asg.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("doc_id"))
        .alias("dup_assignments"),
    )
    return doc_viol.crossJoin(F.broadcast(pack_viol)).select(
        "n_docs", "total_tokens", "dup_assignments",
        "over_budget_packs", "over_depth_packs", "bad_overflow_packs",
    )


# --------------------------------------------------------- FineWeb filters

# FineWeb's three custom line-level filters (Penedo et al. 2024, "The
# FineWeb Datasets", §3.6) — the gates they added on top of Gopher/C4
# after ablations: drop pages whose fraction of lines ending in
# punctuation is <= 0.12, whose fraction of characters sitting in
# within-page duplicated lines is >= 0.10, or whose fraction of lines
# shorter than 30 characters is >= 0.67.  The corpus is newline-free
# word soup, so (same pattern as curate_c4_rules) each doc is first
# RESTRUCTURED into a deterministic 6-line page on both engines:
# line i (0-based) of the 6 near-equal token chunks gets a terminal '.'
# iff i+1 <= doc_id % 7 (punctuation ratio sweeps 0..6/6 across docs),
# and ids % 4 == 0 replace line 4 with a copy of line 1 (the
# duplicated-line rule fires); the short-line rule varies naturally
# with document length.
FINEWEB_MIN_PUNCT_LINE_RATIO = 0.12
FINEWEB_MAX_DUP_CHAR_RATIO = 0.10
FINEWEB_MAX_SHORT_LINE_RATIO = 0.67
FINEWEB_SHORT_LINE_CHARS = 30
_FW_LINES = 6


def _fineweb_oracle() -> str:
    line_sql = ", ".join(
        f"array_to_string(toks[({i} * n // 6 + 1):(({i} + 1) * n // 6)], ' ')"
        f" || CASE WHEN doc_id % 7 >= {i + 1} THEN '.' ELSE '' END AS l{i}"
        for i in range(_FW_LINES)
    )
    return f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks, len({_TOKS_SQL}) AS n
        FROM documents),
    l AS (SELECT doc_id, {line_sql} FROM t),
    p AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN [l0, l1, l2, l3, l1, l5]
                    ELSE [l0, l1, l2, l3, l4, l5] END AS ls
        FROM l),
    m AS (
        SELECT doc_id,
               CAST(len(list_filter(ls,
                   x -> regexp_matches(x, '[.!?]$'))) AS BIGINT) AS n_punct,
               CAST(len(list_filter(ls,
                   x -> length(x) < {FINEWEB_SHORT_LINE_CHARS}))
                   AS BIGINT) AS n_short,
               CAST(list_sum(list_transform(ls,
                   x -> CASE WHEN len(list_filter(ls, y -> y = x)) > 1
                             THEN length(x) ELSE 0 END)) AS BIGINT)
                   AS dup_chars,
               CAST(list_sum(list_transform(ls, x -> length(x)))
                   AS BIGINT) AS total_chars
        FROM p),
    r AS (
        SELECT doc_id, n_punct, n_short, dup_chars, total_chars,
               CAST(n_punct AS DOUBLE) / {_FW_LINES} AS punct_ratio,
               CASE WHEN total_chars > 0
                    THEN CAST(dup_chars AS DOUBLE) / total_chars
                    ELSE 0.0 END AS dup_char_ratio,
               CAST(n_short AS DOUBLE) / {_FW_LINES} AS short_ratio
        FROM m)
    SELECT doc_id, n_punct, n_short, dup_chars, total_chars,
           ROUND(punct_ratio, 6) AS punct_ratio,
           ROUND(dup_char_ratio, 6) AS dup_char_ratio,
           ROUND(short_ratio, 6) AS short_ratio,
           (punct_ratio > {FINEWEB_MIN_PUNCT_LINE_RATIO}
            AND dup_char_ratio < {FINEWEB_MAX_DUP_CHAR_RATIO}
            AND short_ratio < {FINEWEB_MAX_SHORT_LINE_RATIO}) AS keep
    FROM r
    """


@query("curate_fineweb_filters", oracle=_fineweb_oracle())
def curate_fineweb_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb custom quality filters (Penedo et al. 2024 §3.6) over the
    deterministically re-lined 6-line pages (see module comment): keep a
    page only if > 12% of its lines end in terminal punctuation, < 10%
    of its characters sit in within-page duplicated lines, and < 67% of
    its lines are shorter than 30 characters.  Completes the published
    web-pipeline gate trio alongside curate_gopher_rules and
    curate_c4_rules.

    Scale shape: the relining, the per-line predicates, and the
    duplicated-line scan are all array-local higher-order column math
    (the dup scan is O(lines^2) per page with lines == 6, constant) —
    zero shuffle, zero UDF, fused into the parquet scan; at 100 TB this
    runs at scan speed like the other page-level gates.  Ref semantics:
    the quality-gate stage of app.service.ts-style collection curation,
    widened to the published FineWeb recipe."""
    d_ = F.col("doc_id")
    toks = X.tokens(F.col("text"))
    n = F.size(toks)
    lines = []
    for i in range(_FW_LINES):
        start = F.floor(n * i / _FW_LINES).cast("int")
        stop = F.floor(n * (i + 1) / _FW_LINES).cast("int")
        chunk = F.slice(toks, start + 1, stop - start)
        lines.append(
            F.concat(
                F.array_join(chunk, " "),
                F.when(d_ % 7 >= i + 1, F.lit(".")).otherwise(F.lit("")),
            )
        )
    ls = F.when(
        d_ % 4 == 0,
        F.array(lines[0], lines[1], lines[2], lines[3], lines[1], lines[5]),
    ).otherwise(F.array(*lines))

    staged = (
        load(spark, sf_dir, "documents")
        .select("doc_id", ls.alias("ls"))
    )
    ls_ = F.col("ls")
    n_punct = F.size(F.filter(ls_, lambda x: x.rlike("[.!?]$"))).cast("long")
    n_short = F.size(
        F.filter(ls_, lambda x: F.length(x) < FINEWEB_SHORT_LINE_CHARS)
    ).cast("long")
    dup_chars = F.aggregate(
        ls_,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.when(
            F.size(F.filter(ls_, lambda y: y == x)) > 1, F.length(x)
        ).otherwise(F.lit(0)).cast("long"),
    )
    total_chars = F.aggregate(
        ls_,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x).cast("long"),
    )
    m = staged.select(
        "doc_id",
        n_punct.alias("n_punct"),
        n_short.alias("n_short"),
        dup_chars.alias("dup_chars"),
        total_chars.alias("total_chars"),
    )
    punct_ratio = F.col("n_punct").cast("double") / _FW_LINES
    dup_ratio = F.when(
        F.col("total_chars") > 0,
        F.col("dup_chars").cast("double") / F.col("total_chars"),
    ).otherwise(F.lit(0.0))
    short_ratio = F.col("n_short").cast("double") / _FW_LINES
    return m.select(
        "doc_id",
        "n_punct",
        "n_short",
        "dup_chars",
        "total_chars",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(dup_ratio, 6).alias("dup_char_ratio"),
        F.round(short_ratio, 6).alias("short_ratio"),
        (
            (punct_ratio > FINEWEB_MIN_PUNCT_LINE_RATIO)
            & (dup_ratio < FINEWEB_MAX_DUP_CHAR_RATIO)
            & (short_ratio < FINEWEB_MAX_SHORT_LINE_RATIO)
        ).alias("keep"),
    )


# ------------------------------------------- web-pipeline composite

# The front half of a Common Crawl build as ONE declarative plan:
# synthesize a deterministic HTML page per doc (same boilerplate scheme
# as text_html_extract, plus the C4 trigger suffixes on the paragraph
# texts: p1 gets a terminal '.' on even ids, p2 ' javascript.' on ids
# %3 else '!', p3 ' lorem ipsum.' on ids %5 else '?'), run the stdlib
# main-text extractor, then apply the C4 line/page gates to the
# EXTRACTED blocks. The oracle recomputes expected blocks from token
# ground truth and chains the same gate SQL, so the hash match
# certifies extraction and cleaning composed end-to-end — the
# read_warc -> text_html_extract -> curate_c4_rules story with real
# operator reuse in the middle.


def _web_pipeline_oracle() -> str:
    return f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks, len({_TOKS_SQL}) AS n
        FROM documents),
    c AS (
        SELECT doc_id,
               coalesce(array_to_string(toks[1:(n // 3)], ' '), '') AS c1,
               coalesce(array_to_string(
                   toks[(n // 3 + 1):(2 * n // 3)], ' '), '') AS c2,
               coalesce(array_to_string(
                   toks[(2 * n // 3 + 1):n], ' '), '') AS c3
        FROM t),
    b AS (
        SELECT doc_id,
               list_filter([
                   'Doc ' || CAST(doc_id AS VARCHAR),
                   trim(c1 || CASE WHEN doc_id % 2 = 0
                                   THEN '.' ELSE '' END),
                   trim(c2 || CASE WHEN doc_id % 3 = 0
                                   THEN ' javascript.' ELSE '!' END),
                   trim('See here ' || c3
                        || CASE WHEN doc_id % 5 = 0
                                THEN ' lorem ipsum.' ELSE '?' END)
               ], x -> length(x) > 0) AS blocks
        FROM c),
    k AS (
        SELECT doc_id, blocks,
               list_filter(blocks,
                   l -> regexp_matches(l, '{_C4_TERMINAL_RE}')
                        AND len(string_split_regex(trim(l), '\\s+'))
                            >= {C4_MIN_LINE_WORDS}
                        AND NOT contains(lower(l), 'javascript')) AS kept
        FROM b),
    m AS (
        SELECT doc_id,
               CAST(len(blocks) AS BIGINT) AS n_blocks,
               CAST(len(kept) AS BIGINT) AS n_kept_lines,
               coalesce(array_to_string(kept, chr(10)), '') AS clean,
               contains(lower(array_to_string(blocks, chr(10))),
                        'lorem ipsum') AS has_lorem
        FROM k)
    SELECT doc_id, n_blocks, n_kept_lines,
           CAST(length(clean)
                - length(regexp_replace(clean, '[.!?]', '', 'g'))
                AS BIGINT) AS n_sentences,
           has_lorem,
           (NOT has_lorem
            AND length(clean)
                - length(regexp_replace(clean, '[.!?]', '', 'g'))
                >= {C4_MIN_SENTENCES}) AS keep,
           md5(clean) AS clean_hash
    FROM m
    """


@query("pipeline_web_extract_clean", oracle=_web_pipeline_oracle())
def pipeline_web_extract_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus front half composed end-to-end: HTML page -> stdlib
    main-text extraction (operators/htmltext.py — boilerplate skip,
    inline flattening, entity decode) -> C4 line/page gates on the
    extracted blocks, in one plan. See module comment for the
    deterministic page scheme.

    Scale shape: synthesis fuses into the scan, extraction is map-only
    mapInPandas, and every gate is array-local column math on the
    extractor's output — zero shuffle end-to-end, so the composite runs
    at scan speed exactly like its parts; the point is that the stages
    COMPOSE without materialization between them. Ref semantics: the
    full ingest-enrich-filter chain of the reference's event pipeline
    (tasks.service.ts -> sub-tasks enrichment -> quality gating),
    re-expressed for web documents."""
    from pasardassist_spark.operators.htmltext import extract_main_text

    d_ = F.col("doc_id")
    s = d_.cast("string")
    toks = X.tokens(F.col("text"))
    n = F.size(toks)
    a = F.floor(n / 3).cast("int")
    b = F.floor(n * 2 / 3).cast("int")
    c1 = F.array_join(F.slice(toks, F.lit(1), a), " ")
    c2 = F.array_join(F.slice(toks, a + 1, b - a), " ")
    c3 = F.array_join(F.slice(toks, b + 1, n - b), " ")
    sfx1 = F.when(d_ % 2 == 0, F.lit(".")).otherwise(F.lit(""))
    sfx2 = F.when(d_ % 3 == 0, F.lit(" javascript.")).otherwise(F.lit("!"))
    sfx3 = F.when(d_ % 5 == 0, F.lit(" lorem ipsum.")).otherwise(F.lit("?"))
    html = F.concat(
        F.lit("<html><head><title>doc "), s,
        F.lit("</title><style>p{color:#333}</style><script>var id="), s,
        F.lit(';</script></head><body><nav><a href="/">home</a> '
              '<a href="/about">about</a></nav><h1>Doc '), s,
        F.lit("</h1><p>"), c1, sfx1,
        F.lit("</p><p>"), c2, sfx2,
        F.lit('</p><p>See <a href="/d/'), s,
        F.lit('">here</a> '), c3, sfx3,
        F.lit("</p></body></html>"),
    )
    pages = load(spark, sf_dir, "documents").select(
        "doc_id", html.alias("html")
    )
    ext = extract_main_text(pages, "html", "doc_id")

    ls = F.when(
        F.length("clean_text") > 0, F.split("clean_text", "\n")
    ).otherwise(F.array().cast("array<string>"))
    line_words = lambda l: F.size(F.split(F.trim(l), r"\s+"))  # noqa: E731
    keep_line = lambda l: (  # noqa: E731
        l.rlike(_C4_TERMINAL_RE)
        & (line_words(l) >= C4_MIN_LINE_WORDS)
        & ~F.contains(F.lower(l), F.lit("javascript"))
    )
    staged = ext.select(
        "doc_id",
        "clean_text",
        ls.alias("ls"),
    ).withColumn("kept", F.filter("ls", keep_line)).withColumn(
        "clean", F.array_join("kept", "\n")
    )
    n_sentences = (
        F.length("clean") - F.length(F.regexp_replace("clean", r"[.!?]", ""))
    ).cast("long")
    has_lorem = F.contains(F.lower("clean_text"), F.lit("lorem ipsum"))
    return staged.select(
        "doc_id",
        F.size("ls").cast("long").alias("n_blocks"),
        F.size("kept").cast("long").alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        (~has_lorem & (n_sentences >= C4_MIN_SENTENCES)).alias("keep"),
        F.md5("clean").alias("clean_hash"),
    )


# ------------------------------------------------- chat-template render --

CHAT_SYSTEM_PROMPT = "You are a helpful assistant."


@query(
    "format_chat_sft",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               doc_id % 4 + 2 AS n,
               doc_id % 3 = 0 AS with_system,
               list_filter(string_split(text, ' '), w -> w != '') AS words
        FROM documents
    ),
    turns AS (
        SELECT doc_id, n, with_system, i.i AS turn_no,
               CASE WHEN i.i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
               array_to_string(
                   words[(len(words) * i.i) // n + 1
                         : (len(words) * (i.i + 1)) // n],
                   ' ') AS content
        FROM base JOIN (SELECT unnest(range(0, 6)) AS i) i ON i.i < n
    ),
    rendered AS (
        SELECT doc_id, n, with_system,
               (CASE WHEN with_system
                     THEN '<|im_start|>system' || chr(10)
                          || '{CHAT_SYSTEM_PROMPT}' || '<|im_end|>' || chr(10)
                     ELSE '' END)
               || string_agg(
                      '<|im_start|>' || role || chr(10) || content
                      || '<|im_end|>' || chr(10),
                      '' ORDER BY turn_no) AS txt,
               SUM(CASE WHEN role = 'assistant'
                        THEN length(content) ELSE 0 END) AS a_chars
        FROM turns GROUP BY doc_id, n, with_system
    )
    SELECT doc_id, CAST(n AS INTEGER) AS n_turns,
           CAST(length(txt) AS BIGINT) AS rendered_chars,
           CAST(a_chars AS BIGINT) AS assistant_chars,
           md5(txt) AS rendered_md5
    FROM rendered
    """,
)
def format_chat_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering for SFT corpora — the formatting stage
    between curation and sequence packing: each document becomes a
    doc_id%4+2-turn user/assistant conversation (word-slice turns, a
    system prompt on every third doc), rendered in the ChatML-style
    template '<|im_start|>role\\n{{content}}<|im_end|>\\n', with the
    ASSISTANT character mass (the loss-maskable span total) computed
    alongside. ENTIRELY JVM column math — transform/aggregate over a
    turn sequence, zero Python, zero shuffle — so at 100 TB it runs at
    scan speed inside whole-stage codegen. The oracle re-assembles the
    identical string in SQL and md5-compares, so template token
    placement, turn order, and mask arithmetic are hash-certified."""
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    n = (F.col("doc_id") % 4 + 2).cast("int")
    w_ = F.size(words)

    def content(i):
        a = (w_ * i / n).cast("int")
        b = (w_ * (i + 1) / n).cast("int")
        return F.array_join(F.slice(words, a + 1, b - a), " ")

    def role(i):
        return F.when(i % 2 == 0, F.lit("user")).otherwise(F.lit("assistant"))

    seq = F.sequence(F.lit(0), n - 1)
    chunks = F.transform(
        seq,
        lambda i: F.concat(
            F.lit("<|im_start|>"), role(i), F.lit("\n"),
            content(i), F.lit("<|im_end|>\n"),
        ),
    )
    sys_part = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit(f"<|im_start|>system\n{CHAT_SYSTEM_PROMPT}<|im_end|>\n"),
    ).otherwise(F.lit(""))
    rendered = F.concat(sys_part, F.array_join(chunks, ""))
    a_chars = F.aggregate(
        F.filter(seq, lambda i: i % 2 == 1),
        F.lit(0).cast("long"),
        lambda acc, i: acc + F.length(content(i)),
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        n.alias("n_turns"),
        F.length(rendered).cast("long").alias("rendered_chars"),
        a_chars.alias("assistant_chars"),
        F.md5(rendered.cast("binary")).alias("rendered_md5"),
    )


@query(
    "src_webdataset_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, md5(text) AS payload_md5
    FROM documents
    """,
)
def src_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset source/sink, closed-loop (sources/webdataset.py — the
    PyTorch-ecosystem tar-shard layout for training corpora): export the
    documents table as 8 tar shards of adjacent {key}.txt / {key}.json /
    {key}.bin members (text payload, a deterministic JSON sidecar
    carrying lang/source, and the text's md5 digest as a binary member),
    then read the shards back with binaryFile + stdlib tarfile parsing
    and reconstruct the original rows — metadata recovered via
    get_json_object, binary fidelity surfaced as the hex of the .bin
    member, which the oracle independently recomputes as md5(text).
    Write is one shard per partition through tables.write_shards, read
    is one task per shard; only the 8-row manifest reaches the driver. The
    adjacency invariant (a sample's members contiguous) is enforced on
    read and pytest-pinned along with corrupt-shard contracts."""
    from pasardassist_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    staged = d.select(
        F.format_string("%09d", F.col("doc_id")).alias("key"),
        F.col("text").alias("txt"),
        F.concat(
            F.lit('{"lang": "'), F.col("lang"),
            F.lit('", "source": "'), F.col("source"), F.lit('"}'),
        ).alias("json"),
        F.unhex(F.md5(F.col("text").cast("binary"))).alias("bin"),
    ).repartition(8, "key")

    tmp = export_shards(write_webdataset, staged, "pasard_wds_")

    back = read_webdataset(spark, tmp)
    return back.select(
        F.col("key").cast("long").alias("doc_id"),
        F.col("txt").alias("text"),
        F.get_json_object("json", "$.lang").alias("lang"),
        F.get_json_object("json", "$.source").alias("source"),
        F.lower(F.hex("bin")).alias("payload_md5"),
    )

@query(
    "src_mbox_roundtrip",
    oracle="""
    SELECT doc_id,
           'doc ' || doc_id AS subject,
           CAST(1700000000 + doc_id AS BIGINT) AS date_epoch,
           CAST(length(text) AS BIGINT) AS n_chars,
           md5(text) AS body_md5
    FROM documents
    """,
)
def src_mbox_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mbox source/sink, closed-loop (sources/mbox.py + the RFC 5322 /
    MIME composer in operators/emailtext.py): every document becomes a
    genuine message (structure doc_id%4 — 8bit, quoted-printable,
    base64 multipart/alternative, nested multipart/mixed; subject
    'doc {id}', date 1700000000+id), written as 8 mboxrd files (one per
    partition, >From-quoting applied to real text), read back with
    binaryFile + split_mbox, and fully re-parsed — the FULL original
    text must survive two codec layers (MIME CTE + mbox framing) for
    md5(text) to match the oracle's direct computation on 500 docs.
    Write one file per partition through tables.write_shards, read one
    task per file; only the 8-row manifest reaches the driver."""
    import hashlib as _hashlib

    from pasardassist_spark.operators.emailtext import encode_email, parse_email
    from pasardassist_spark.sources.mbox import read_mbox, write_mbox

    d = load(spark, sf_dir, "documents").select("doc_id", "text")

    def _compose(doc_id, text):
        seed = int(doc_id)
        yield (encode_email(f"doc {seed}", 1700000000 + seed, text, seed),)

    staged = map_rows(d.repartition(8, "doc_id"), _compose, "msg binary")

    tmp = export_shards(write_mbox, staged, "pasard_mbox_")

    back = read_mbox(spark, tmp)

    def _extract(raw):
        doc = parse_email(bytes(raw))
        if not doc.subject.startswith("doc "):
            raise ValueError(f"foreign subject {doc.subject!r}")
        yield (
            int(doc.subject[4:]), doc.subject, doc.date_epoch, len(doc.text),
            _hashlib.md5(doc.text.encode("utf-8")).hexdigest(),
        )

    return map_rows(
        back.select("raw"),
        _extract,
        "doc_id long, subject string, date_epoch long, n_chars long, "
        "body_md5 string",
    )


@query(
    "format_fim_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               {_TOKS_SQL} AS words,
               len({_TOKS_SQL}) AS w
        FROM documents
    ),
    s AS (
        SELECT doc_id, w,
               (w * (doc_id % 3 + 1)) // 6 AS a,
               (w * (doc_id % 3 + 3)) // 6 AS b,
               words
        FROM t
    ),
    r AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
               array_to_string(words[1:a], ' ') AS pre,
               array_to_string(words[a+1:b], ' ') AS mid,
               array_to_string(words[b+1:w], ' ') AS suf
        FROM s
    )
    SELECT doc_id, mode,
           CAST(length(mid) AS BIGINT) AS middle_chars,
           md5(CASE WHEN mode = 'psm'
                THEN '<|fim_prefix|>' || pre || '<|fim_suffix|>' || suf
                     || '<|fim_middle|>' || mid
                ELSE '<|fim_suffix|>' || suf || '<|fim_prefix|>' || pre
                     || '<|fim_middle|>' || mid
           END) AS rendered_md5
    FROM r
    """,
)
def format_fim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle span formatting (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle") —
    the code-LLM data-prep sibling of format_chat_sft: each document
    splits at closed-form word boundaries into prefix/middle/suffix and
    renders with FIM sentinels, alternating the paper's PSM and SPM
    orderings by doc parity (both are trained in practice; SPM is the
    inference-cache-friendly one).  ENTIRELY JVM column math — split +
    slice + concat inside the scan projection, zero Python, zero
    shuffle — so at 100 TB it runs at scan speed.  The oracle
    re-assembles the identical strings in SQL and md5-compares."""
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    w_ = F.size(words)
    a = (w_ * (F.col("doc_id") % 3 + 1) / 6).cast("int")
    b = (w_ * (F.col("doc_id") % 3 + 3) / 6).cast("int")
    pre = F.array_join(F.slice(words, F.lit(1), a), " ")
    mid = F.array_join(F.slice(words, a + F.lit(1), b - a), " ")
    suf = F.array_join(F.slice(words, b + F.lit(1), w_ - b), " ")
    psm = F.concat(
        F.lit("<|fim_prefix|>"), pre, F.lit("<|fim_suffix|>"), suf,
        F.lit("<|fim_middle|>"), mid,
    )
    spm = F.concat(
        F.lit("<|fim_suffix|>"), suf, F.lit("<|fim_prefix|>"), pre,
        F.lit("<|fim_middle|>"), mid,
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "psm").otherwise("spm").alias("mode"),
        F.length(mid).cast("long").alias("middle_chars"),
        F.md5(
            F.when(F.col("doc_id") % 2 == 0, psm).otherwise(spm)
            .cast("binary")
        ).alias("rendered_md5"),
    )


# ------------------------------------------- budget-prefix data selection

# Per-source token budget for curate_budget_select: small enough that the
# take-while prefix genuinely cuts (each synthetic source carries ~25
# docs x ~1k tokens at sf0.001), large enough that every source keeps >1
# doc.
SELECT_TOKEN_BUDGET = 4_000


@query(
    "curate_budget_select",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, source,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               CAST(len(list_filter({_TOKS_SQL},
                        t -> t IN ({", ".join(f"'{w}'" for w in GOPHER_STOPS)})))
                    AS DOUBLE) / len({_TOKS_SQL}) AS stop_density
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, n_tokens,
               round(stop_density, 6) AS stop_density,
               SUM(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY round(stop_density, 6) DESC, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens
        FROM m
    )
    SELECT doc_id, source, n_tokens, stop_density,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM r WHERE cum_tokens <= {SELECT_TOKEN_BUDGET}
    """,
)
def curate_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection: per source, take documents in
    quality order (stopword density desc — the cheap English-likeness
    proxy; ties by doc_id) until the cumulative token count would pass
    SELECT_TOKEN_BUDGET — the deterministic prefix form of
    select-best-under-budget every curated pretraining mix runs per
    domain (greedy-with-skip is a different, sequential operator; the
    prefix form is the one with a closed form, and the one used when
    the quality ordering dominates doc-size variance).

    Plan: one groupBy-free pass — token counts and stop density are
    scan-fused column math, the running total is a window cumsum over
    (source, score, id) whose partial sort pushes below the single
    source-keyed shuffle, and the budget cut is monotone (cumsum only
    grows), so kept rows are exactly the maximal affordable prefix.
    6-dp rounding on the score BEFORE ordering keeps both engines'
    sort keys identical."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = X.tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(
            F.size(F.filter(toks, lambda t: t.isin(*GOPHER_STOPS)))
            .cast("double") / F.size(toks),
            6,
        ).alias("stop_density"),
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.desc("stop_density"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        scored.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        )
        .filter(F.col("cum_tokens") <= SELECT_TOKEN_BUDGET)
    )


# ------------------------------------------- within-doc line dedup

@query(
    "text_dedup_lines",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS_SQL} AS toks, len({_TOKS_SQL}) AS n
        FROM documents
    ),
    l AS (
        SELECT doc_id,
               {", ".join(
                   f"array_to_string(toks[({i} * n // 6 + 1):(({i} + 1) * n // 6)], ' ')"
                   f" AS l{i}" for i in range(6)
               )}
        FROM t
    ),
    p AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN [l0, l1, l2, l3, l1, l5]
                    ELSE [l0, l1, l2, l3, l4, l5] END AS ls
        FROM l
    ),
    k AS (
        SELECT doc_id, ls,
               list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept
        FROM p
    )
    SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           md5(array_to_string(kept, chr(10))) AS kept_md5
    FROM k
    """,
)
def text_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-line REMOVAL, first occurrence kept —
    the cleaning transform behind FineWeb's dup-line-chars signal
    (curate_fineweb_filters SCORES the duplication; this op removes it,
    the pair every crawl cleaner ships).  Same deterministic 6-line
    restructure as the FineWeb query (newline-free word soup -> 6
    near-equal token chunks; ids %4==0 plant line1 over line4 so the
    removal genuinely fires on a quarter of the corpus).

    Keep rule on both engines: line i survives iff its FIRST index in
    the line array is i (array_position / list_position with the
    index-aware lambda) — order-preserving first-occurrence dedup
    without relying on either engine's distinct() ordering contract.
    All JVM higher-order-function column math fused into the scan:
    zero shuffle, zero Python."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    d2 = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    lines = F.array(*[
        F.array_join(
            F.slice(
                F.col("toks"),
                (F.col("n") * i / 6).cast("int") + 1,
                ((F.col("n") * (i + 1) / 6).cast("int")
                 - (F.col("n") * i / 6).cast("int")),
            ),
            " ",
        )
        for i in range(6)
    ])
    d3 = d2.select("doc_id", lines.alias("raw"))
    ls = F.when(
        F.col("doc_id") % 4 == 0,
        F.array(*[
            F.element_at("raw", 2) if i == 4 else F.element_at("raw", i + 1)
            for i in range(6)
        ]),
    ).otherwise(F.col("raw"))
    d4 = d3.select("doc_id", ls.alias("ls"))
    kept = F.filter(
        F.col("ls"), lambda x, i: F.array_position(F.col("ls"), x) == i + 1
    )
    return d4.select(
        "doc_id",
        F.size("ls").cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.array_join(kept, "\n").cast("binary")).alias("kept_md5"),
    )


# ------------------------------------------- robots.txt crawl gate

# A synthesized-but-conforming robots.txt: comments, CRLF, a shared
# user-agent group, an ignored sitemap field, empty-Disallow tolerance,
# wildcard and end-anchored patterns. Parsed ONCE at import by the real
# grammar (operators/robots.py); the query AND the oracle below both
# consume the parsed rule table, so the distributed gate and DuckDB
# evaluate identical regexes.
ROBOTS_TXT = (
    "# corpus crawl policy\r\n"
    "User-agent: otherbot\r\n"
    "Disallow: /\r\n"
    "\r\n"
    "User-agent: trainbot\r\n"
    "User-agent: evalbot\r\n"
    "Disallow: /private/\r\n"
    "Allow: /private/pub/\r\n"
    "Disallow: /*.zip$\r\n"
    "Disallow: /p/*/draft\r\n"
    "Allow: /p/\r\n"
    "Disallow:\r\n"  # empty value: disallows nothing
    "Sitemap: http://example.com/sitemap.xml\r\n"
    "\r\n"
    "User-agent: *\r\n"
    "Disallow: /tmp/\r\n"
)
ROBOTS_UA = "trainbot"


def _robots_oracle() -> str:
    from pasardassist_spark.operators.robots import (
        pattern_to_regex,
        rules_for,
    )

    rules = rules_for(ROBOTS_TXT, ROBOTS_UA)
    vals = ", ".join(
        f"('{kind}', '{pat}', '{pattern_to_regex(pat)}', {len(pat)})"
        for kind, pat in rules
    )
    return f"""
    WITH d AS (
        SELECT doc_id,
               CASE CAST(doc_id % 6 AS INTEGER)
                    WHEN 0 THEN '/p/' || CAST(doc_id // 7 AS VARCHAR)
                    WHEN 1 THEN '/private/notes/' || CAST(doc_id AS VARCHAR)
                    WHEN 2 THEN '/private/pub/' || CAST(doc_id AS VARCHAR)
                    WHEN 3 THEN '/files/' || CAST(doc_id AS VARCHAR) || '.zip'
                    WHEN 4 THEN '/p/' || CAST(doc_id AS VARCHAR) || '/draft'
                    ELSE '/tmp/cache/' || CAST(doc_id AS VARCHAR)
               END AS path
        FROM documents
    ),
    r(kind, pattern, rx, plen) AS (VALUES {vals}),
    m AS (
        SELECT d.doc_id, d.path, r.kind, r.pattern,
               row_number() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY r.plen DESC,
                            (r.kind = 'allow') DESC,
                            r.pattern DESC
               ) AS rn
        FROM d JOIN r ON regexp_matches(d.path, r.rx)
    ),
    win AS (SELECT doc_id, kind, pattern FROM m WHERE rn = 1)
    SELECT d.doc_id, d.path,
           COALESCE(win.kind = 'allow', TRUE) AS allowed,
           win.pattern AS matched_pattern
    FROM d LEFT JOIN win ON d.doc_id = win.doc_id
    """


@query("curate_robots_gate", oracle=_robots_oracle())
def curate_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt crawl gate per RFC 9309 (operators/robots.py): the
    policy file is parsed by the real grammar (group continuation,
    comments, CRLF, empty-Disallow, unknown fields skipped; group
    selection by product token with * fallback), each document's
    synthesized path is judged by MOST-SPECIFIC-MATCH-WINS (longest
    pattern in octets, allow wins ties, no match allows), and the
    winning rule is emitted alongside the verdict — the audit column a
    compliant crawler logs.

    Plan: the rule table (a handful of rows however big the robots file
    corpus — rules per host are small by construction) broadcasts into
    one crossJoin + rlike filter; the per-path winner is a window over
    (specificity, kind, pattern); unmatched paths default-allow through
    a left join.  At 100 TB the rule table is keyed by host and the
    crossJoin becomes a host-keyed broadcast join — same shape.  Both
    engines evaluate the SAME anchored regexes, translated once by
    pattern_to_regex."""
    from pasardassist_spark.operators.robots import (
        pattern_to_regex,
        rules_for,
    )

    rules = rules_for(ROBOTS_TXT, ROBOTS_UA)
    rules_df = local_frame(
        spark,
        [
            (kind, pat, pattern_to_regex(pat), len(pat))
            for kind, pat in rules
        ],
        "kind string, pattern string, rx string, plen int",
    )
    d_ = F.col("doc_id")
    path = (
        F.when(d_ % 6 == 0,
               F.concat(F.lit("/p/"), F.floor(d_ / 7).cast("string")))
        .when(d_ % 6 == 1,
              F.concat(F.lit("/private/notes/"), d_.cast("string")))
        .when(d_ % 6 == 2,
              F.concat(F.lit("/private/pub/"), d_.cast("string")))
        .when(d_ % 6 == 3,
              F.concat(F.lit("/files/"), d_.cast("string"), F.lit(".zip")))
        .when(d_ % 6 == 4,
              F.concat(F.lit("/p/"), d_.cast("string"), F.lit("/draft")))
        .otherwise(F.concat(F.lit("/tmp/cache/"), d_.cast("string")))
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", path.alias("path")
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc("plen"),
        F.desc(F.col("kind") == "allow"),
        F.desc("pattern"),
    )
    winners = (
        docs.crossJoin(F.broadcast(rules_df))
        .filter(F.expr("path rlike rx"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "kind", "pattern")
    )
    return docs.join(winners, "doc_id", "left").select(
        "doc_id",
        "path",
        F.coalesce(F.col("kind") == "allow", F.lit(True)).alias("allowed"),
        F.col("pattern").alias("matched_pattern"),
    )
