"""Sketch-backed distribution queries: Count-Min frequencies and the
hash-coordinated sample quantile sketch.

Both are mergeable summaries — the property that matters at 100 TB,
where "recompute over all history" is off the table and rollups must
combine partial summaries associatively (same design rationale as the
HLL rollup, queries/analytics.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.operators.sketches import (
    cm_estimate,
    cm_merge,
    cm_partition_sketches,
)
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import load, local_frame


@query("cm_sketch_freq")  # sketch estimates: rows-only driver check by design
def cm_sketch_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates per event type: per-partition grids
    fold via mapInPandas, merge by elementwise sum (the only exchange
    carries sketch cells, KBs), point-query the merged 32 KB grid on the
    driver. est >= true is a hard guarantee; the overshoot bound
    (est - true <= ~N*depth/width at this grid size) is pytest-asserted
    against exact counts in tests/test_sketches.py. Output is
    sketch-specific, so the driver records a rows-only check — the
    pytest bound is the correctness gate."""
    ev = load(spark, sf_dir, "events")
    grid = cm_merge(cm_partition_sketches(ev, "event_type"))
    keys = [r.event_type for r in ev.select("event_type").distinct().collect()]
    rows = [(k, cm_estimate(grid, k)) for k in sorted(keys)]
    return local_frame(spark, rows, "event_type string, est_count long")


# ~6% deterministic row sample: same 16-bit md5 gate as samp_deterministic
QS_GATE_BP = 600


@query(
    "qsketch_percentiles",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_sample,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events
    WHERE (instr('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 4096
        + (instr('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 256
        + (instr('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 3, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 4, 1)) - 1)
        < {QS_GATE_BP * 65536 // 10000}
    GROUP BY event_type
    """,
)
def qsketch_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch via a hash-coordinated sample: keep a row iff the
    first 16 bits of md5(event_id) pass a fixed gate, then take EXACT
    percentiles of the kept rows. Because the gate is a pure function of
    the row identity, the sample is (a) deterministic — same rows kept on
    any engine, partitioning, or rerun, which is why this sketch is
    fully ORACLE-CHECKABLE unlike t-digest/KLL whose internals are
    engine-specific — and (b) MERGEABLE: the union of gated samples of
    any two corpus slices IS the gated sample of their union (pytest
    pins this). Rank error is O(1/sqrt(gate_rate * N)), asserted against
    the exact a13 percentiles in tests/test_sketches.py. At 100 TB the
    gate runs scan-local and the sort cost drops by the gate factor."""
    ev = load(spark, sf_dir, "events")
    gate = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return (
        ev.filter(gate < QS_GATE_BP * 65536 // 10000)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.9)).alias("p90"),
            F.percentile("value", F.lit(0.99)).alias("p99"),
        )
    )


# ------------------------------------------------------------ Bloom filter

# Distributed Bloom-filter build + membership probe (Bloom 1970; the
# decontamination-at-scale primitive: test billions of candidate n-grams
# against a benchmark set without shipping the set). m = 4096 bits as 64
# int64 slots, k = 3 hash functions = the first 3 hex digits (12 bits,
# exactly 0..4095 — no modulo bias) of md5 under seeds '0:'/'1:'/'2:'.
# Build: word -> 3 positions -> (slot, mask) -> ONE bit_or groupBy whose
# shuffle carries <= 64 rows of partial ORs per partition; the folded
# 4 KB filter broadcasts into the probe side as a literal array. The
# oracle re-derives membership SET-logically (a position is set iff some
# corpus word hashes to it), so a hash match certifies the whole
# bit-packing path: slotting, masking, OR-fold, and probe unpacking.
BLOOM_SEEDS = (0, 1, 2)
BLOOM_SLOTS = 64  # 64 slots x 64 bits = 4096-bit filter
_N_ABSENT_PROBES = 50

_HEX = "0123456789abcdef"


def _pos_sql(word_expr: str, seed: int) -> str:
    """First 3 hex digits of md5('{seed}:'||word) as an int in 0..4095."""
    h = f"md5('{seed}:' || {word_expr})"
    return (
        f"((instr('{_HEX}', substr({h}, 1, 1)) - 1) * 256"
        f" + (instr('{_HEX}', substr({h}, 2, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substr({h}, 3, 1)) - 1))"
    )


def _bloom_oracle() -> str:
    from pasardassist_spark.queries.text import _TOKS_SQL

    hit = " AND ".join(
        f"{_pos_sql('p.word', s)} IN (SELECT pos FROM bits)"
        for s in BLOOM_SEEDS
    )
    pos_union = " UNION ".join(
        f"SELECT {_pos_sql('word', s)} AS pos FROM w" for s in BLOOM_SEEDS
    )
    return f"""
    WITH w AS (
        SELECT DISTINCT unnest({_TOKS_SQL}) AS word FROM documents
    ),
    probes AS (
        SELECT word FROM w
        UNION
        SELECT 'zz' || CAST(i AS VARCHAR) FROM range({_N_ABSENT_PROBES}) t(i)
    ),
    bits AS ({pos_union})
    SELECT p.word,
           p.word IN (SELECT word FROM w) AS present,
           ({hit}) AS bloom_hit
    FROM probes p
    """


def _pos_col(word: F.Column, seed: int) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), word)), 1, 3), 16, 10
    ).cast("int")


@query("sketch_bloom_filter", oracle=_bloom_oracle())
def sketch_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership over the corpus word vocabulary: build the
    4096-bit / 3-hash filter distributed (see module comment), then
    probe every corpus word plus {_N_ABSENT_PROBES} synthetic absent
    words through the broadcast filter. No false negatives is the
    structural guarantee (pytest-asserted); the absent probes measure
    the false-positive rate at this load factor. Scale shape: one
    word-keyed distinct, one <=64-row bit_or fold, probe side map-only
    against a 4 KB literal — the shape that lets a 100 TB corpus test
    membership against a benchmark set without a join."""
    from pasardassist_spark.operators.text import tokens

    d = load(spark, sf_dir, "documents").select("text")
    # localCheckpoint, not cache: the frame feeds both the slot fold below
    # AND the returned probe plan, and a .cache() would pin executor
    # memory for the whole session (the query fn can't unpersist without
    # invalidating its own return) — checkpoint blocks are GC'd with the
    # returned plan instead
    w = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .distinct()
        .localCheckpoint()
    )
    positions = w.select(
        F.explode(
            F.array(*[_pos_col(F.col("word"), s) for s in BLOOM_SEEDS])
        ).alias("pos")
    )
    slots = (
        positions.select(
            (F.col("pos") / 64).cast("int").alias("slot"),
            F.expr("shiftleft(CAST(1 AS BIGINT), pos % 64)").alias("mask"),
        )
        .groupBy("slot")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .collect()
    )
    filt = [0] * BLOOM_SLOTS
    for r in slots:
        filt[r.slot] = r.bits
    # unpack to a flat bool list once on the driver; the probe test is
    # then a pure element_at against the broadcast literal
    bits = [
        bool((filt[i // 64] >> (i % 64)) & 1) for i in range(BLOOM_SLOTS * 64)
    ]
    lit_bits = F.array(*[F.lit(b) for b in bits])

    absent = spark.range(_N_ABSENT_PROBES).select(
        F.concat(F.lit("zz"), F.col("id").cast("string")).alias("word")
    )
    probes = w.select("word").union(absent).distinct()
    hit = None
    for s in BLOOM_SEEDS:
        t = F.element_at(lit_bits, _pos_col(F.col("word"), s) + 1)
        hit = t if hit is None else (hit & t)
    return (
        probes.join(
            w.select("word", F.lit(True).alias("in_corpus")),
            "word",
            "left",
        )
        .select(
            "word",
            F.coalesce("in_corpus", F.lit(False)).alias("present"),
            hit.alias("bloom_hit"),
        )
    )
