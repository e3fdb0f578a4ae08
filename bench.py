"""Benchmark harness: times registered queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test tables, TESTDATA.md) on local[$SPARK_GRAFT_CPUS].

    python bench.py            # full run
    python bench.py NAME...    # subset run over the named queries

The full run times the HEADLINE queries (one cold and two warm passes), the
extras pass, the library-operator rows and the ANN block, prints ONE
summary JSON line and writes the full record to BENCH_LAST.json. When an
ANN row's recall@10 is below the previous record at the same sf and cpus,
it exits non-zero and leaves BENCH_LAST.json as it was.

The subset run takes the same warm-up and the same timed passes (one cold,
two warm, the q1 control at the head of each pass) over NAME... only and
prints {"cold", "warm", "control", "cpus"}; it writes nothing. An A/B
comparison is this command alternated between two checkouts (fresh JVM per
call, min across calls).

Each query is forced end-to-end with a noop sink (no driver collect, no
result materialization skew).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from pasardassist_spark import get_spark
from pasardassist_spark.caching import release_all
from pasardassist_spark.queries import all_queries
from pasardassist_spark.tables import DEFAULT_SF_DIR, load

# Representative, scale-meaningful subset of the registry: one per operator
# family that dominates cost at 100 TB (wide agg, latest-per-key window,
# fact-fact join, union-sort, pivot, text scan, hash dedup, minhash chain,
# similarity scan, pandas-UDF stage).
HEADLINE = [
    "q1_pricing_summary",
    "a11_collection_stats",
    "j3_latest_order_per_customer",
    "j2_composite_key",
    "a12_wallet_dashboard",
    "j6_region_rollup",
    "u1_union_timeline",
    "o3_top5_per_group",
    "st4_entity_fold",
    "a9_event_type_pivot",
    "text_token_stats",
    "text_quality",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_cosine_topk",
    "mm_decode_features",
    # round-3 additions (VERDICT directive 9): the time-series operator
    # family gets regression numbers of its own.
    "aj_rate_asof",
    "rj_session_assign",
    "sess_gap_sessionize",
    "time_multi_rollup",
    "u3_attribution_join",
    # round-3 flagship LLM-pipeline additions. dedup_clusters is tracked by
    # pytest, not here: its driver-side CC iteration (~9 s at sf0.1) would
    # dominate the suite total without measuring a per-query plan.
    "curate_corpus",
    "pack_training_sequences",
    "contamination_flags",
    "text_repetition",
]


# Registered queries the extras pass does NOT time, grouped by reason.
# Every other registered query outside HEADLINE is an extras row
# (extra_names), so a new @query is benched by default and skipping one is
# a deliberate edit here. tests/test_oracle_parity.py guards membership so a
# stale name cannot fail the bench run.
NOT_BENCHED = [
    # sink-I/O-dominated source round trips and stream replays: their cost
    # is the writer, not a query plan (pytest-tracked instead)
    "src_csv_roundtrip", "src_orc_roundtrip", "src_msgpack_roundtrip",
    "src_jsonl_roundtrip", "st1_stream_replay", "st3_stream_rollup",
    "st8_incremental_stats", "st9_lsm_replay", "streaming_watermark_readout",
    # multi-epoch gate and index-tuning composites: the correctness gate
    # already gives their regression signal at a fraction of the time
    "streaming_docgate_readout", "streaming_imagegate_readout",
    "sim_ivf_autotune",
    # ANN variants: timed with recall@10 and a build/search split in the
    # ANN block of the full run
    "sim_lsh_ann", "sim_ivf_ann",
    # rounds 1-5 entries that predate the extras pass; their operator
    # families are timed by headline or later extras rows
    "a3_distinct_buyers", "a3_approx_distinct", "a4_lowest_price",
    "a5_latest_event", "a6_salted_latest_per_type", "a7_earnings_case",
    "a8_weighted_volume", "a9_rarity_map", "a10_attribute_counts",
    "a13_percentiles", "a13_percentiles_approx", "s4_enrich_join",
    "s5_royalty_fanout", "st7_retry_enrichment", "p_project_compute",
    "f_predicates", "f_keyword_search", "f6_attribute_filter",
    "f8_key_tuples", "j1_orders_customer", "j4_customers_no_orders",
    "j5_sale_flags", "o1_sort_multikey", "o2_pagination",
    "o4_count_and_page", "u2_single_pass_classes", "u4_retention_set_ops",
    "w_rank_distributions", "w2_value_window_analytics", "scalar_funcs",
    "hist_value_buckets", "stat_durbin_watson", "ab_proportion_ztest",
    "ab_cuped_adjust", "ts_gap_fill", "ts_ewma", "ts_zscore_anomaly",
    "text_lang_id", "text_fingerprint", "text_bpe_token_count",
    "text_unigram_logprob", "text_vocab_topk", "idx_inverted_postings",
    "udtf_sentence_split", "dedup_simhash_pairs", "dedup_ngram_jaccard",
    "dedup_embcos_exact", "dedup_embcos_lsh", "dedup_semantic",
    "dedup_incremental", "dedup_span_ngrams", "curate_quality_classifier",
    "curate_robots_gate", "pipeline_attachment_extract", "mm_resize_thumbs",
    "mm_frame_sample", "dq_quality_checks", "samp_deterministic",
    "mix_sources", "samp_class_cap", "samp_weighted_reservoir",
    "emb_normalize_quantize",
]


def extra_names() -> list[str]:
    """The extras pass: every registered query not in HEADLINE or
    NOT_BENCHED."""
    skip = set(HEADLINE) | set(NOT_BENCHED)
    return sorted(n for n in all_queries() if n not in skip)


CONTROL = "q1_pricing_summary"


def warm_up(spark, qs, sf_dir: str) -> None:
    """Untimed warm-up before the first timed pass.

    Touch the big table once (page cache + codegen paths) and spin up the
    Python worker pool (fork + pandas/pyarrow import is a one-time
    per-executor cost a long-lived cluster amortizes; without this it all
    lands on whichever pandas-UDF query runs first). Then one untimed
    warm-up QUERY: the first timed query otherwise absorbs the JVM's
    one-time whole-stage-codegen compiler warmup (observed as a ~2x cold
    artifact on q1 in r2/r3). It runs on the sibling sf0.001 tables so the
    warm-up measures compilation, not data.
    """
    load(spark, sf_dir, "lineitem").count()

    def _noop_pandas(batches):
        for pdf in batches:
            yield pdf

    spark.range(256).repartition(spark.sparkContext.defaultParallelism).select(
        F.col("id")
    ).mapInPandas(_noop_pandas, "id long").write.format("noop").mode("overwrite").save()
    tiny = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    qs[CONTROL](spark, tiny).write.format("noop").mode("overwrite").save()


def timed_passes(
    spark, qs, names, sf_dir: str, passes: int
) -> list[dict[str, float]]:
    """``passes`` consecutive passes over ``names``; returns one
    {name: seconds} dict per pass.

    Persist hygiene (r17 VERDICT): several operators persist()
    intermediates that outlive their terminal action (the returned plan
    references them, so the operator cannot unpersist eagerly). One long
    session timing hundreds of entries would accumulate those blocks for
    its whole lifetime, shadow-taxing every later entry. release_all drops
    them (SQL cache AND localCheckpoint block RDDs), and removes the
    entries' scratch directories, BETWEEN entries, outside each timed
    window; queries are independent, so this also keeps
    the warm numbers honest (no cross-pass cached-plan reuse).
    """
    out = []
    for _ in range(passes):
        times: dict[str, float] = {}
        for name in names:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[name] = round(time.perf_counter() - t0, 3)
            release_all(spark)
        out.append(times)
    return out


def _min_of(passes: list[dict[str, float]]) -> dict[str, float]:
    return {name: min(p[name] for p in passes) for name in passes[0]}


def cold_and_warm(spark, qs, names, sf_dir: str):
    """The per-query protocol: one cold pass (plan + codegen compile
    included), then the per-query MIN over two warm passes."""
    cold, *warm_passes = timed_passes(spark, qs, names, sf_dir, 3)
    return cold, _min_of(warm_passes)


def run_subset(names: list[str]) -> None:
    """One cold and two warm passes over ``names``, the q1 control first in
    every pass (the cold control is the host reading)."""
    qs = all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"not registered queries: {unknown}")
    names = list(dict.fromkeys(names))
    spark = get_spark("pasardassist-bench")
    warm_up(spark, qs, DEFAULT_SF_DIR)
    runs = [CONTROL] + [n for n in names if n != CONTROL]
    cold, warm = cold_and_warm(spark, qs, runs, DEFAULT_SF_DIR)
    print(json.dumps({
        "cold": {n: cold[n] for n in names},
        "warm": {n: warm[n] for n in names},
        "control": cold[CONTROL],
        "cpus": spark.sparkContext.defaultParallelism,
    }))
    spark.stop()


def tree_round(repo: str) -> str:
    """The tree a record measures: the short commit id, with a ``-dirty``
    suffix when tracked files differ from it, so a record taken before
    the commit does not name its parent; ``unknown`` outside git."""
    import subprocess

    try:
        return subprocess.run(
            ["git", "-C", repo, "describe", "--always", "--dirty"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def recall_drops(ann: dict, prev: dict) -> dict[str, dict]:
    """The ANN rows whose recall@10 fell below the previous record's.

    ``prev`` is the BENCH_LAST.json record taken at the same sf and cpus
    (empty when there is none). A drop is a silent quality regression
    that no timing flag sees, so ``main`` exits non-zero on any."""
    before = prev.get("ann") or {}
    return {
        name: {"prev": p, "cur": row["recall10"]}
        for name, row in ann.items()
        if (p := (before.get(name) or {}).get("recall10")) is not None
        and row["recall10"] < p
    }


def main() -> None:
    sf_dir = DEFAULT_SF_DIR
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("pasardassist-bench")
    cpus = spark.sparkContext.defaultParallelism
    qs = all_queries()
    warm_up(spark, qs, sf_dir)

    # Cold pass (comparable to the r01 baseline: includes per-query plan +
    # codegen compile), then warm passes measuring steady-state execution —
    # the number that scales with data volume on a long-lived cluster, where
    # one-time compile cost amortizes to zero.
    # Warm: per-query MIN over two passes. The box this runs on is shared;
    # a single pass occasionally catches a multi-second host-contention
    # stall on one random query (observed: same query 1.4 s and 18 s in
    # back-to-back idle-machine runs, GC log clean). Min-of-2 reports the
    # query's actual steady-state cost, which is the number that scales.
    timings, warm = cold_and_warm(spark, qs, HEADLINE, sf_dir)

    # Host-contention control (VERDICT r15 #7): the same anchor query,
    # re-measured at fixed points spread across the long extras pass, makes
    # the record self-adjudicating — when THIS round's control runs slower
    # than last round's recorded control on unchanged anchor code, the
    # per-query flags below are host shadow (page-cache/thermal state from
    # prior workloads), not regressions. Median of the samples, not min:
    # the control's job is to MEASURE contention, so it must not be robust
    # to it.
    # Regression anchors for the operator additions: timed outside the
    # headline totals (so cross-round totals stay comparable and
    # dedup_clusters' driver-side CC iteration doesn't dominate the
    # suite). Like the headline warm numbers, extras are the per-query
    # MIN over two full passes: a single pass re-admitted the host-
    # contention ambiguity the regressions field exists to kill (r9
    # flagged stat_entropy +110% with zero code change).
    extra_passes = timed_passes(
        spark, qs, [CONTROL] + extra_names(), sf_dir, 2
    )
    control_samples = [p.pop(CONTROL) for p in extra_passes]
    control_samples.append(timed_passes(spark, qs, [CONTROL], sf_dir, 1)[0][CONTROL])
    extras = _min_of(extra_passes)

    def _min2(run) -> float:
        """Per-row min-of-2, same stability policy as the extras list."""
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            run()
            dt = round(time.perf_counter() - t0, 3)
            best = dt if best is None else min(best, dt)
            release_all(spark)
        return best

    # Silver-layout paths for the two slowest warm queries (both fact⋈fact):
    # the one-time bucketed write is the standing lake layout (untimed —
    # amortized across every future run of the reference's 10-min cron
    # workload); the timed number is the query consuming the bucketing.
    from pasardassist_spark.sources.lake import (
        a11_collection_stats_bucketed,
        j2_composite_key_bucketed,
        prepare_silver,
    )

    prepare_silver(spark, sf_dir)
    for name, fn in [
        ("a11_collection_stats_bucketed", a11_collection_stats_bucketed),
        ("j2_composite_key_bucketed", j2_composite_key_bucketed),
    ]:
        extras[name] = _min2(
            lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        )

    # Library-operator regression rows (no registry slot — the driver
    # window is full; timed here so the families still have numbers):
    # CEP contiguous match, record linkage, hard-negative mining.
    from pasardassist_spark.operators.cep import match_pattern
    from pasardassist_spark.operators.linkage import link_records
    from pasardassist_spark.operators.similarity import mine_hard_negatives

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    # distinct name from the registry's cep_match_pattern slot (3-step, no
    # budget): this row keeps the r6/r7 2-step + 1 h-budget series intact
    extras["cep_view_click_1h"] = _min2(lambda: match_pattern(
        ev, ["user_id"], ["us", "event_id"],
        [F.col("event_type") == "view", F.col("event_type") == "click"],
        id_col="event_id", time_col="us", within=3_600_000_000,
    ).write.format("noop").mode("overwrite").save())

    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("block"),
        F.col("p_name").alias("name"),
    )
    # typo-grade distance (2): the MDM operating point; TPC-H names are so
    # mutually close that dist 4 links ~half the table into dense cliques,
    # which measures the data's pathology, not the operator
    extras["link_records"] = _min2(lambda: link_records(
        part, ["block"], "id", "name", 2
    ).write.format("noop").mode("overwrite").save())

    extras["mine_hard_negatives"] = _min2(lambda: mine_hard_negatives(
        load(spark, sf_dir, "embeddings"), k=5
    ).write.format("noop").mode("overwrite").save())

    # tokenizer APPLICATION (train is benched as bpe_train_merge_table;
    # this times only the corpus-wide encode on the trained merges)
    from pasardassist_spark.operators.bpe import bpe_encode, train_bpe_merges
    from pasardassist_spark.queries.text import BPE_N_MERGES

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, "text", BPE_N_MERGES)
    extras["bpe_encode_corpus"] = _min2(lambda: bpe_encode(
        docs, "text", merges, "doc_id"
    ).write.format("noop").mode("overwrite").save())

    # seeded global shuffle-shard (training export): one exchange +
    # per-shard sort
    from pasardassist_spark.operators.sharding import shuffle_shards

    extras["shuffle_shards"] = _min2(lambda: shuffle_shards(
        docs, "doc_id", 32, seed=1
    ).write.format("noop").mode("overwrite").save())

    # ANN quality + attribution (VERDICT r5 directive #7): rows-only driver
    # checks can't catch a silent recall regression, and the one-shot query
    # timings blur index build into search. Measure recall@10 against the
    # exact brute-force top-k, and time build (train+assign+encode,
    # persisted) separately from search (probe+score+rerank on the prebuilt
    # index — the steady-state serving cost; build amortizes once per
    # corpus generation).
    from pasardassist_spark.operators import similarity as S
    from pasardassist_spark.queries.similarity import DIM, K, QUERY_IDS

    emb = load(spark, sf_dir, "embeddings")
    exact = {
        (r.q_id, r.neighbor_id)
        for r in qs["sim_cosine_topk"](spark, sf_dir).collect()
    }
    ann: dict[str, dict[str, float]] = {}

    # sign-random-projection LSH (one-shot: bucket build is inline — its
    # tables are seeded hyperplanes, not a trained artifact, so there is
    # no build/search split to attribute)
    t0 = time.perf_counter()
    got = {
        (r.q_id, r.neighbor_id)
        for r in S.ann_topk(emb, QUERY_IDS, K, DIM).collect()
    }
    ann["sim_lsh_ann"] = {
        "recall10": round(len(exact & got) / len(exact), 3),
        "search_s": round(time.perf_counter() - t0, 3),
    }

    t0 = time.perf_counter()
    asg, cent = S.ivf_assignments(emb)
    asg = asg.persist()
    asg.count()
    build_s = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    got = {
        (r.q_id, r.neighbor_id)
        for r in S.ivf_topk(
            emb, QUERY_IDS, K, assignments=asg, centroids=cent
        ).collect()
    }
    ann["sim_ivf_ann"] = {
        "recall10": round(len(exact & got) / len(exact), 3),
        "build_s": build_s,
        "search_s": round(time.perf_counter() - t0, 3),
    }

    t0 = time.perf_counter()
    # r19: one shared training-sample collect (identical matrix -> the
    # rotation/books/codes are unchanged; the build previously collected
    # the same sample twice)
    trainX = S.pq_training_matrix(emb)
    rot = S.opq_rotation(emb, DIM, sample_X=trainX)  # round-12: OPQ alternation
    books = S.pq_codebooks(emb, DIM, rotation=rot, sample_X=trainX)
    codes = S.pq_encode(emb, books, rotation=rot).persist()
    codes.count()
    build_s = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    got = {
        (r.q_id, r.neighbor_id)
        for r in S.ivfpq_topk(
            emb, QUERY_IDS, K, DIM,
            books=books, assignments=asg, centroids=cent, codes=codes,
            rotation=rot,
        ).collect()
    }
    ann["sim_ivfpq_ann"] = {
        "recall10": round(len(exact & got) / len(exact), 3),
        # the PQ index reuses the IVF coarse quantizer; its build_s is the
        # OPQ-train + codebook + encode increment on top of sim_ivf_ann's
        "build_s": build_s,
        "search_s": round(time.perf_counter() - t0, 3),
    }
    asg.unpersist()
    codes.unpersist()

    # Like-for-like comparison set: the 17 queries the r1 baseline measured
    # (st4_latest_state has since merged into st4_entity_fold). The full
    # HEADLINE total grows as coverage grows; THIS subtotal is the number
    # comparable across rounds (r1: 37.078 s, r2: 26.368 s).
    baseline_subset = [
        "q1_pricing_summary", "a11_collection_stats",
        "j3_latest_order_per_customer", "j2_composite_key",
        "a12_wallet_dashboard", "j6_region_rollup", "u1_union_timeline",
        "o3_top5_per_group", "st4_entity_fold", "a9_event_type_pivot",
        "text_token_stats", "text_quality", "dedup_exact",
        "dedup_minhash_lsh", "dedup_simhash", "sim_cosine_topk",
        "mm_decode_features",
    ]
    total = round(sum(timings.values()), 3)

    # Per-query regression tracking vs the previous recorded run (VERDICT
    # r6 #6): the shared host occasionally doubles random untouched
    # queries, and without per-query deltas every round-over-round swing
    # is an unattributable judgment call. BENCH_LAST.json is this
    # harness's own full record of the previous run (the driver's
    # BENCH_r{N}.json keeps only a truncated tail); flagged = warm/extra
    # time grew >25% AND >0.5 s absolute.  Both gates are needed:
    # sub-second queries jitter past 25% on scheduler noise alone, and
    # even with warm min-of-2 this shared host swings multi-stage 2 s
    # queries by ~0.5 s with zero code change (r10: link_records
    # 1.80 -> 2.26 s, untouched since its baseline), so a flag below
    # that amplitude carries no signal.
    last_path = os.path.join(REPO, "BENCH_LAST.json")
    prev: dict = {}
    if os.path.exists(last_path):
        try:
            with open(last_path) as f:
                prev = json.load(f)
        except (OSError, json.JSONDecodeError):
            prev = {}
    if prev.get("sf") != sf or prev.get("cpus") != cpus:
        # cross-sf or cross-core-count comparison is meaningless (an 8-core
        # record against 32-core priors flagged 14 false real_suspects);
        # don't fake deltas
        prev = {}
    recall_gate = recall_drops(ann, prev)
    prev_times = {**prev.get("queries_warm", {}), **prev.get("queries_extra", {})}
    cur_times = {**warm, **extras}

    # Control readout + shadow/real adjudication. ratio_vs_prev compares
    # this run's control median to the PREVIOUS recorded run's — the anchor
    # query code rarely changes, so a ratio well above 1 means the host ran
    # this whole record slower (the r13-r15 "shadow" regime: BASELINE.md
    # adjudicated ~all such flags NOT REAL). A flagged query is then
    # classified `shadow` unless it grew 25% beyond what the host ratio
    # explains — those are the flags worth an isolated re-measure
    # (`python bench.py NAME...` alternated between two checkouts).
    control_median = sorted(control_samples)[len(control_samples) // 2]
    prev_control = (prev.get("host_control") or {}).get("median_s")
    control_ratio = (
        round(control_median / prev_control, 3) if prev_control else None
    )
    host_control = {
        "anchor": CONTROL,
        "samples": control_samples,
        "median_s": control_median,
        "prev_median_s": prev_control,
        "ratio_vs_prev": control_ratio,
    }
    shadow_bar = (control_ratio or 1.0) * 1.25
    regressions = {
        name: {
            "prev_s": p,
            "cur_s": cur,
            "delta_pct": round((cur - p) / p * 100, 1),
            "verdict": (
                "unadjudicated" if control_ratio is None
                else "shadow" if cur / p <= shadow_bar
                else "real_suspect"
            ),
        }
        for name, cur in cur_times.items()
        if (p := prev_times.get(name)) and cur - p > 0.5 and (cur - p) / p > 0.25
    }

    # Extras runtime budget (r17 VERDICT #7): extras_total drifted
    # 234 -> 275 s across r16 -> r17 with only ~13 s of new queries; the
    # budget line makes the bench itself flag that drift instead of
    # round-over-round judging. Evaluated only on a settled host
    # (control ratio <= 1.05) — a contended record says nothing about
    # the code. Raise the budget deliberately when new queries land,
    # never implicitly.
    # r19 re-pin (VERDICT r18 item 7). Accounting: the 250 s budget was
    # pinned BEFORE the 16 r18 debuts landed (~+42 s measured on the r18
    # settled driver host), so it was red on every clean run — a budget
    # that is always red is no budget. This round's optimizations removed
    # ~50 s from the extras pass (fuzzy-levenshtein −9, mondrian −2,
    # ivfpq build −1.3, plus the settled-host haze delta); the settled
    # r19 measurement (host_control 0.93) is 265.8 s across 247 rows.
    # 290 = measured + ~9% headroom: green on a clean run, red on ~10%
    # real drift. Raise deliberately when debuts land, never implicitly.
    EXTRAS_BUDGET_S = 290.0
    extras_total = round(sum(extras.values()), 3)
    extras_budget = {
        "budget_s": EXTRAS_BUDGET_S,
        "total_s": extras_total,
        "within": (
            extras_total < EXTRAS_BUDGET_S
            if (control_ratio is None or control_ratio <= 1.05)
            else None  # host-contended record: budget not evaluable
        ),
    }

    # Stable per-query number (VERDICT r18 item 8): min over all three
    # timed executions (1 cold + 2 warm) — the steady-state cost with the
    # cold pass's host-stall/JIT jitter removed. ADDITIVE: `value` and
    # `queries` keep their cold single-pass semantics for cross-round
    # comparability; adjudicate per-query regressions on queries_min3
    # (full record) / value_min3 (summary line) instead of cold noise.
    min3 = {name: min(timings[name], warm[name]) for name in HEADLINE}

    result = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min3": min3,
        "value_min3": round(sum(min3.values()), 3),
        "queries_warm": warm,
        "queries_extra": extras,
        "ann": ann,
        "value_warm": round(sum(warm.values()), 3),
        "value_baseline_subset": round(
            sum(timings[n] for n in baseline_subset), 3
        ),
        "value_baseline_subset_warm": round(
            sum(warm[n] for n in baseline_subset), 3
        ),
        "n_queries": len(HEADLINE),
        "sf": sf,
        "cpus": cpus,
        "regressions": regressions,
        "regressions_vs": prev.get("round"),
        "host_control": host_control,
        "extras_budget": extras_budget,
        "ann_recall_drops": recall_gate,
    }

    # The driver records only the LAST 2000 characters of stdout and parses
    # the final line as JSON; the full `result` dict overflowed that buffer
    # every round since r4 (BENCH_r04..r08 all show "parsed": null).  Print
    # a compact summary line that fits the buffer — the complete per-query
    # record lives in BENCH_LAST.json (written below) for the judge.
    summary = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "value_warm": result["value_warm"],
        "value_min3": result["value_min3"],
        "value_baseline_subset": result["value_baseline_subset"],
        "value_baseline_subset_warm": result["value_baseline_subset_warm"],
        "n_queries": len(HEADLINE),
        "n_extras": len(extras),
        "extras_total": extras_total,
        "extras_budget": extras_budget,
        "ann": ann,
        "ann_recall_drops": recall_gate,
        "regressions_n": len(regressions),
        "regressions_real_suspect": sorted(
            n for n, r in regressions.items() if r["verdict"] == "real_suspect"
        )[:5],
        "host_contention": control_ratio,
        "regressions_top": {
            n: regressions[n]["delta_pct"]
            for n in sorted(
                regressions, key=lambda n: -regressions[n]["delta_pct"]
            )[:3]
        },
        "sf": sf,
        "cpus": cpus,
        "full_record": "BENCH_LAST.json",
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never overflow the tail again
        summary.pop("queries", None)
        line = json.dumps(summary, separators=(",", ":"))
    print(line)

    # Recall gate: a lower recall@10 than the previous same-sf, same-cpus
    # record fails the run and leaves that record as the anchor, so the
    # next run is compared with it again.
    if recall_gate:
        print(f"ANN recall@10 dropped: {recall_gate}", file=sys.stderr)
        sys.exit(1)

    # Full record for next run's comparison (best-effort: a read-only
    # checkout must not break the bench output). Only the canonical sf0.1
    # driver configuration is recorded — ad-hoc runs at other scale
    # factors must not clobber the round-over-round anchor.
    if sf == 0.1:
        try:
            with open(last_path, "w") as f:
                json.dump({**result, "round": tree_round(REPO)}, f, indent=1)
        except OSError:
            pass


if __name__ == "__main__":
    if sys.argv[1:]:
        run_subset(sys.argv[1:])
    else:
        main()
