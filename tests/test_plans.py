"""Physical-plan assertions — the scale contract (SURVEY.md §4).

Correctness says a query returns the right rows; these tests pin HOW:
filters reach the parquet scan, projections prune the read schema,
dimension joins broadcast, expressions stay in whole-stage codegen. A
regression here is a 100x cost regression at 100 TB even though every
value test still passes.
"""

from __future__ import annotations

import re

import pytest

from pasardassist_spark.plans import (
    data_shuffle_count,
    plan,
    read_schemas,
    shuffle_count,
)
from pasardassist_spark.queries.registry import REGISTRY, _load_all

_load_all()


def test_q1_scan_is_pruned_and_filter_pushed(spark, sf_dir):
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    p = plan(df)
    # only the 7 needed columns of 11 are read
    (schema,) = read_schemas(p)
    assert schema == {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_f_predicates_push_to_scan(spark, sf_dir):
    p = plan(REGISTRY["f_predicates"].fn(spark, sf_dir))
    for fragment in ("In(l_returnflag", "GreaterThanOrEqual(l_quantity,10.0)"):
        assert fragment in p, f"missing pushed filter {fragment}"


def test_dimension_joins_broadcast(spark, sf_dir):
    for name in ("j1_orders_customer", "j6_region_rollup", "a11_collection_stats", "a4_lowest_price"):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in p, f"{name}: dimension join did not broadcast"
        assert "SortMergeJoin" not in p, f"{name}: unexpected sort-merge join"


def test_projection_prunes_columns(spark, sf_dir):
    p = plan(REGISTRY["p_project_compute"].fn(spark, sf_dir))
    (schema,) = read_schemas(p)
    assert schema == {"o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"}


def test_pagination_plans_global_limit_not_full_sort(spark, sf_dir):
    p = plan(REGISTRY["o2_pagination"].fn(spark, sf_dir), "simple")
    assert "GlobalLimit" in p or "TakeOrderedAndProject" in p


def test_hot_queries_stay_in_codegen(spark, sf_dir):
    """AQE finalizes the physical plan at execution time, so run the query
    and assert codegen spans (*(n) markers) in the executed plan."""
    for name in ("q1_pricing_summary", "a12_wallet_dashboard", "time_multi_rollup"):
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in p, f"{name}: no whole-stage codegen spans in executed plan"


def test_latest_per_key_single_shuffle(spark, sf_dir):
    """The keystone operator must cost exactly one hash-shuffle of orders
    (plus the tiny customer broadcast)."""
    p = plan(REGISTRY["j3_latest_order_per_customer"].fn(spark, sf_dir))
    hash_exchanges = re.findall(r"\(\d+\) Exchange\b", p)
    assert len(hash_exchanges) <= 1, f"latest_per_key shuffled {len(hash_exchanges)}x"
    # Spark 4 pushes the rank<=1 limit into the shuffle (WindowGroupLimit):
    # partial top-1 per key before the exchange — keep it that way.
    assert "WindowGroupLimit" in p


def test_latest_per_key_limits_each_key_before_the_shuffle(spark):
    """latest_per_key's skew story: the executed plan holds a partial
    WindowGroupLimit below the key's hash exchange (each map task ships at
    most one row per key) and the final one above it."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.latest import latest_per_key

    df = spark.range(20000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("ts")
    ).repartition(4)
    out = latest_per_key(df, ["k"], [F.desc("ts")])
    assert len(out.collect()) == 50
    final = out._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    limits = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln]
    (exchange,) = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning(k#" in ln]
    assert len(limits) == 2, final
    assert lines[limits[0]].rstrip().endswith("Final") and limits[0] < exchange
    assert lines[limits[1]].rstrip().endswith("Partial") and limits[1] > exchange


def test_minhash_has_no_cartesian_product(spark, sf_dir):
    """LSH candidate generation must never plan an all-pairs product of
    documents, and since the signature rewrite there is no crossJoin row
    amplification of any kind left in the pipeline."""
    p = plan(REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_weighted_volume_broadcasts_both_dims(spark, sf_dir):
    """A8: supplier and the rates dim must broadcast — lineitem is the only
    shuffled input, and only for the final group-by."""
    p = plan(REGISTRY["a8_weighted_volume"].fn(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 2
    assert "SortMergeJoin" not in p


def test_entity_fold_single_shuffle(spark, sf_dir):
    """The ST4 fold must cost exactly one hash-shuffle of events (partial
    aggregation map-side, merge reduce-side)."""
    p = plan(REGISTRY["st4_entity_fold"].fn(spark, sf_dir))
    assert shuffle_count(p) <= 1, p
    assert "partial_" in p  # map-side combine present


def test_enrichment_prunes_payload_from_python(spark, sf_dir):
    """S4: only the id column crosses into the Python enrichment stage —
    the ArrowEvalPython/mapInPandas input must not carry props/ts/value."""
    p = plan(REGISTRY["s4_enrich_join"].fn(spark, sf_dir))
    m = re.search(r"\(\d+\) MapInPandas\nInput \[(\d+)\]: \[([^\]]*)\]", p)
    assert m, "no MapInPandas stage found"
    n_cols, cols = int(m.group(1)), m.group(2)
    assert n_cols == 1 and "event_id" in cols, cols


def test_attribution_join_not_nested_loop(spark, sf_dir):
    """The stream-stream join's batch twin must plan the equi-key as a real
    hash/merge join with the range as a post-condition — never a nested
    loop over the cross product."""
    p = plan(REGISTRY["u3_attribution_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_range_and_asof_single_shuffle_shapes(spark, sf_dir):
    """rj: equi-join on (key, bucket) only; aj: the registered query uses
    the dense-broadcast strategy — the events fact side must stream through
    a broadcast hash join with NO union+window (which would sort the whole
    table in ~|event_type| tasks at scale; the round-2 perf-weak finding)."""
    p = plan(REGISTRY["rj_session_assign"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    p = plan(REGISTRY["aj_rate_asof"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "Union" not in p, "asof fell back to the union+window strategy"
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # every remaining shuffle is on the dim-sized rates/dense side: the
    # rates partial-agg, the tiny in-bucket/dense aggs, and the tiny carry
    # window — never an exchange of the probe-side event rows.
    assert shuffle_count(p) <= 4, p


def test_curate_corpus_single_semantic_shuffle(spark, sf_dir):
    """The curation composite must fuse: quality + lang gates evaluated at
    the scan (before any exchange), then exactly one hash shuffle — the
    content-hash dedup window. (The round-robin fan-out exchange is the
    single-row-group testdata adapter, a no-op at scale.)"""
    p = plan(REGISTRY["curate_corpus"].fn(spark, sf_dir))
    assert p.count("hashpartitioning") == 1, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    # gates run below the shuffle: the hash exchange's input already carries
    # the score/lang filter (no post-shuffle quality Filter)
    pre = p.split("hashpartitioning")[0]
    assert ">= 0.4" in pre, "quality gate did not fuse below the shuffle"


def test_dedup_clusters_no_cartesian(spark, sf_dir):
    """CC iterations are driver-side; the FINAL labeling plan must still be
    shuffle-shaped: no cartesian/nested-loop anywhere, and the documents
    side joins the (tiny, checkpointed) component map by hash."""
    p = plan(REGISTRY["dedup_clusters"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_pack_sequences_no_global_window(spark, sf_dir):
    """The packing prefix sum must never sort the corpus in one task: the
    row-level window partitions by the range bucket (hash exchange), and
    the only SinglePartition exchange feeds the n_buckets-row offsets
    window — metadata-sized by construction."""
    p = plan(REGISTRY["pack_training_sequences"].fn(spark, sf_dir))
    assert "hashpartitioning(_pb" in p, p
    assert "BroadcastHashJoin" in p  # offsets join back by broadcast


def test_scan_local_text_ops_have_no_shuffle(spark, sf_dir):
    """Repetition stats and PII redaction are row-local by design — at
    100 TB they must run at parquet-scan speed: zero semantic shuffles,
    zero joins. (The sorted-run max_run_count exists precisely to avoid
    the explode+groupBy shuffle a naive top-token-frequency would cost.
    The round-robin exchange load() injects is the single-row-group
    testdata adapter, not part of the query plan.)"""
    for name in (
        "text_repetition",
        "pii_redact",
        "curate_quality_classifier",
    ):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        assert _semantic_shuffles(p) == 0, f"{name} shuffled:\n{p}"
        assert "Join" not in p, f"{name} joined:\n{p}"


def _semantic_shuffles(p: str) -> int:
    """Shuffles excluding load()'s round-robin testdata adapter."""
    return len(re.findall(r"(hash|range)partitioning|SinglePartition", p))


def test_mix_sources_broadcasts_spec(spark, sf_dir):
    """The mixture spec is config-sized: it must broadcast, and the corpus
    must stream through the gate filter with no semantic shuffle."""
    p = plan(REGISTRY["mix_sources"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert _semantic_shuffles(p) == 0, p


def test_bm25_corpus_pass_is_scan_local(spark, sf_dir):
    """BM25's per-doc tf columns are row-local HOF counts: the only
    semantic shuffle is the 1-row stats aggregate (SinglePartition by
    construction, metadata-sized), which broadcasts back over the corpus;
    the top-k is a TakeOrdered, never a global sort."""
    p = plan(REGISTRY["text_bm25_topk"].fn(spark, sf_dir))
    assert _semantic_shuffles(p) == 1, p  # the 1-row stats agg only
    assert "TakeOrderedAndProject" in p, p
    assert "SortMergeJoin" not in p, p


def test_w2_windows_share_one_exchange(spark, sf_dir):
    """The LAG frame and the 1-hour RANGE frame both hash-partition on
    user_id: Catalyst must plan ONE exchange and ONE sort feeding both
    Window operators — two shuffles here would double the query's cost at
    any scale."""
    p = plan(REGISTRY["w2_value_window_analytics"].fn(spark, sf_dir))
    assert len(re.findall(r"hashpartitioning\(user_id", p)) == 1, p
    assert _semantic_shuffles(p) == 1, p
    assert len(re.findall(r"\(\d+\) Sort\b", p)) == 1, p


def test_passage_dedup_two_shuffles_no_join(spark, sf_dir):
    """Passage dedup rewrites the corpus with exactly two O(corpus) hash
    shuffles — first-occurrence window keyed on the passage digest, then
    reassembly keyed on doc_id. A join or a third shuffle here means the
    keep-first logic regressed to a count+join-back form."""
    p = plan(REGISTRY["dedup_passages"].fn(spark, sf_dir))
    assert _semantic_shuffles(p) == 2, p
    assert "Join" not in p, p


def test_contamination_eval_side_builds_once(spark, sf_dir):
    """The contamination check's only expensive movement is shingle-keyed:
    no cartesian anywhere, and the eval shingle set deduplicates before the
    join (an Aggregate on the build side, benchmark-sized at scale)."""
    p = plan(REGISTRY["contamination_flags"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_funnel_single_exchange(spark, sf_dir):
    """The staged funnel must chain its three per-user windows over ONE
    hash-exchange of events — no re-shuffle between stages, no self-join."""
    p = plan(REGISTRY["funnel_conversion"].fn(spark, sf_dir))
    hash_exchanges = re.findall(r"\(\d+\) Exchange hashpartitioning\(user_id", p)
    assert len(hash_exchanges) <= 1, f"funnel shuffled events {len(hash_exchanges)}x"
    assert "CartesianProduct" not in p


def test_grouping_sets_single_expand(spark, sf_dir):
    """GROUPING SETS must plan one Expand + one aggregate exchange — three
    granularities from a single pass, with both dims broadcast."""
    p = plan(REGISTRY["gs_customer_rollup"].fn(spark, sf_dir))
    assert "Expand" in p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 2


def test_runtime_bloom_filter_semi_join_reduction(spark, sf_dir):
    """With a selective dim-side predicate on a shuffle join, Catalyst must
    inject a bloom-filter runtime filter: a might_contain probe on the fact
    side BEFORE its shuffle — the 100 TB semi-join reduction. Thresholds
    are scoped via runtime_filter_session (local-mode size estimates never
    clear the 10 GB default gate)."""
    from pasardassist_spark.plans.runtime_filters import runtime_filter_session
    from pasardassist_spark.tables import load
    from pyspark.sql import functions as F

    with runtime_filter_session(spark):
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = plan(j).lower()
        assert "might_contain" in p or "bloomfilter" in p, (
            "no runtime bloom filter injected"
        )
        # the probe must sit on the lineitem (probe) side, i.e. reference
        # the fact join key
        assert "might_contain" not in p or "l_orderkey" in p


def test_aqe_splits_skewed_join_partition(spark):
    """A hot-key fact⋈fact join under skew_join_session must show AQE
    skew handling in the FINAL adaptive plan: the oversized partition is
    read as multiple skewed splits (AQEShuffleRead ... skew=true) instead
    of one straggler task — the runtime complement to manual salting."""
    from pyspark.sql import functions as F

    from pasardassist_spark.plans.runtime_filters import skew_join_session

    with skew_join_session(spark):
        # 90% of the fact rows share one hot key; the other side is unique
        # keys (the realistic hot-entity join) so the output stays small.
        hot = F.when(F.col("id") % 10 > 0, 7).otherwise(F.col("id"))
        big = spark.range(400000).select(hot.alias("k"), F.lit("x" * 64).alias("pad"))
        keys = spark.range(100000).select(F.col("id").alias("k"), F.lit("d").alias("w"))
        j = big.join(keys, "k").groupBy().count()
        j.collect()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p, "AQE did not split the skewed partition"


def test_reservoir_sample_uses_window_group_limit(spark, sf_dir):
    """The per-group rank<=K filter must push into the shuffle as a
    partial top-K (WindowGroupLimit) so the exchange carries O(groups*K)
    rows — the property that makes the hash-reservoir viable at 100 TB."""
    p = plan(REGISTRY["samp_reservoir_per_group"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_row_local_queries_have_no_hash_shuffle(spark, sf_dir):
    """Chunking, PII scrub, and the histogram's pre-agg side are row-local:
    chunking and scrubbing must plan ZERO hash exchanges (the only allowed
    Exchange is the documented RoundRobin fan-out that compensates the
    single-row-group local test files — a no-op on a real lake), and the
    histogram exactly one (its aggregate)."""
    for name, max_hash in [
        ("chunk_documents", 0),
        ("pii_redact", 0),
        ("hist_value_buckets", 1),
    ]:
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        n = len(re.findall(r"Exchange hashpartitioning", p))
        assert n <= max_hash, f"{name}: {n} hash exchanges (max {max_hash})"


def test_pair_matching_joins_stay_equi(spark, sf_dir):
    """The bucket-decomposed pair joins (interval x interval overlap,
    length-band fuzzy dedup) must plan as hash-partitioned EQUI joins on
    (keys, bucket) — a regression to BroadcastNestedLoopJoin/
    CartesianProduct is the quadratic plan the decomposition exists to
    avoid, and it would still pass every value test at sf0.01."""
    for name in ("j8_interval_overlap", "dedup_fuzzy_levenshtein"):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_hybrid_rrf_corpus_sides_broadcast_only(spark, sf_dir):
    """RRF fusion: the only row-amplifying joins allowed are the TWO
    intended 1-row broadcast crosses (BM25 stats frame onto documents,
    query vector onto embeddings — same shape test_bm25 pins); the
    full-outer fusion of the two K-row rank lists may sort-merge (K=20
    rows, irrelevant), but nothing may plan an unbroadcast cartesian."""
    p = plan(REGISTRY["search_hybrid_rrf"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 2


def test_shuffle_shards_single_hash_exchange(spark, sf_dir):
    """The seeded training shuffle must plan exactly ONE semantic
    exchange (hash on shard) + per-shard sort — never a global sort or a
    rand()-keyed range partition."""
    from pasardassist_spark.operators.sharding import shuffle_shards
    from pasardassist_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    p = plan(shuffle_shards(docs, "doc_id", 8, seed=1))
    assert len(re.findall(r"hashpartitioning\(shard", p)) == 1, p
    assert "rangepartitioning" not in p, f"global sort leaked in:\n{p}"
    assert "rand(" not in p, f"nondeterministic key in:\n{p}"


def test_bpe_encode_types_join_not_token_broadcast_of_corpus(spark, sf_dir):
    """bpe_encode's join-back must key on the word TYPE (an equi-join the
    optimizer may broadcast when small), and the pandas encode stage must
    see ONLY the distinct type column — never doc ids or text payloads."""
    from pasardassist_spark.operators.bpe import bpe_encode
    from pasardassist_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    p = plan(bpe_encode(docs, "text", [("t", "h", 2)], "doc_id"))
    assert "ArrowEvalPython" in p, p
    # the python stage evaluates _encode over the type column only — its
    # Input schema must be w columns, no doc ids / text payloads
    m = re.search(
        r"ArrowEvalPython\nInput \[\d+\]: \[(w#\d+(?:, w#\d+)*)\]", p
    )
    assert m, f"pandas stage not keyed on the type column alone:\n{p}"
    assert re.search(r"_encode\(w#\d+\)", p), p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_multimodal_stages_prune_and_stay_map_only(spark, sf_dir):
    """The real-codec stages are pure map passes: genuine payload build →
    decode → features is zero-shuffle (one mapInPandas chain), and the
    documents scan reads ONLY doc_id — the payload never rides a shuffle
    and untouched columns (text, lang, source) never leave parquet."""
    for name in ("mm_decode_real", "mm_audio_features"):
        df = REGISTRY[name].fn(spark, sf_dir)
        p = plan(df)
        # the only allowed exchange is the deliberate local-test fan-out
        # of the single-file documents scan (RoundRobin; a no-op on a real
        # many-file lake — tables.py) — never a hash/range DATA shuffle
        assert "hashpartitioning" not in p, f"{name}: hash shuffle in map stage"
        assert "rangepartitioning" not in p, f"{name}: range shuffle in map stage"
        schemas = read_schemas(p)
        for schema in schemas:
            assert schema <= {"doc_id"}, f"{name}: unpruned scan {schema}"


def test_dhash_near_pairs_banded_join_shape(spark, sf_dir):
    """Candidates come from the (band, val) equi-join: no cartesian
    product, no broadcast of the full corpus, and the dedup groupBy is
    the only other exchange."""
    df = REGISTRY["mm_dhash_near_pairs"].fn(spark, sf_dir)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cep_single_user_keyed_exchange(spark, sf_dir):
    """The k-1 LEAD conjunction runs over ONE per-user window exchange —
    the operator's whole scale contract (no self-joins, no events^k)."""
    df = REGISTRY["cep_match_pattern"].fn(spark, sf_dir)
    p = plan(df)
    assert data_shuffle_count(p) == 1, f"expected 1 data shuffle:\n{p}"
    assert "Join" not in p


def test_cdc_operator_diff_single_join_no_bloat(spark, sf_dir):
    """One full-outer equi-join on the key; no nested-loop fallback."""
    p = plan(REGISTRY["cdc_operator_diff"].fn(spark, sf_dir))
    joins = re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", p)
    assert len(joins) <= 1, f"expected one key join, got {joins}"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_batch_by_length_no_single_task_sort(spark, sf_dir):
    """The global length rank is the two-phase distributed prefix count —
    no global Sort over an un-partitioned window (the Exchange
    SinglePartition + Window shape that serializes at scale)."""
    df = REGISTRY["batch_by_length"].fn(spark, sf_dir)
    p = plan(df)
    import re as _re

    windows_after_single = _re.findall(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Window", p
    )
    assert not windows_after_single, f"single-partition window in:\n{p}"


# ---------------------------------------------------- round-9 operators


def test_u5_unpivot_is_expand_not_shuffle(spark, sf_dir):
    """Unpivot must compile to an Expand node; the only data shuffle is
    the nation-grain aggregation (the dim join broadcasts)."""
    p = plan(REGISTRY["u5_unpivot_metrics"].fn(spark, sf_dir))
    assert "Expand" in p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert data_shuffle_count(p) <= 1


def test_containment_and_boilerplate_never_cartesian(spark, sf_dir):
    for name in ("dedup_containment", "text_boilerplate_strip"):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    """Row-local column math: no hash/range exchange beyond the documents
    fan-out repartition (RoundRobin) the loader injects."""
    p = plan(REGISTRY["curate_gopher_rules"].fn(spark, sf_dir))
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "SortMergeJoin" not in p and "mapInPandas" not in p.lower()


def test_aj_nearest_fact_side_never_shuffles(spark, sf_dir):
    """Both as-of passes must hit the events fact table with broadcast
    hash joins; every hash exchange in the plan belongs to the dim-sized
    rates build (events appears only under scan->project->join pipelines,
    never under an Exchange hashpartitioning on event rows). Proxy
    assertions: zero sort-merge joins, and no exchange keyed on the
    left-side row id."""
    p = plan(REGISTRY["aj_nearest_rate"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning(event_id" not in p


def test_c4_rules_zero_shuffle(spark, sf_dir):
    """Augmentation, line split/filter, and page metrics are row-local
    column math fused into the scan (the gopher contract)."""
    p = plan(REGISTRY["curate_c4_rules"].fn(spark, sf_dir))
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "SortMergeJoin" not in p and "mapInPandas" not in p.lower()


def test_url_dedup_single_data_shuffle(spark, sf_dir):
    """One hash exchange total — the url_norm dedup window; normalizer
    and blocklist must not add joins or shuffles."""
    p = plan(REGISTRY["curate_url_dedup"].fn(spark, sf_dir))
    # one hash exchange on url_norm; the only other exchange is the
    # loader's RoundRobin fan-out of the single documents file
    assert len(re.findall(r"hashpartitioning\(url_norm", p)) >= 1
    assert len({m for m in re.findall(r"hashpartitioning\((\w+)", p)}) == 1
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_exact_substring_no_cartesian_no_rowid_window(spark, sf_dir):
    """Gram marking joins hash-partitioned on the digest; interval union
    windows per doc_id — never a global (empty-partition-key) window."""
    p = plan(REGISTRY["dedup_exact_substring"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # per-doc windows only: every Window node partitions by doc_id
    for args in re.findall(r"Window\n[^\n]*\nArguments: [^\n]*", p):
        assert "doc_id" in args


def test_source_overlap_no_gram_self_join(spark, sf_dir):
    """The pair fan-out must come from the bounded source-set collect,
    not a dig=dig self-join: exactly one join pipeline family
    (broadcast of the 20-row per-source counts), no sort-merge join of
    the gram stream against itself."""
    p = plan(REGISTRY["text_source_overlap"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 2  # n_a, n_b


def test_ccnet_buckets_no_corpus_sort(spark, sf_dir):
    """The per-language rank window may only run on the SAMPLE side;
    the corpus-sized scored frame reaches the output through a broadcast
    join against the 5-row cutoff table — no range partitioning (sort)
    of the corpus anywhere."""
    p = plan(REGISTRY["curate_ccnet_buckets"].fn(spark, sf_dir))
    assert "rangepartitioning" not in p
    assert "BroadcastHashJoin" in p


def test_fineweb_filters_zero_shuffle(spark, sf_dir):
    """Relining, line predicates, and the O(lines^2) dup-char scan are
    array-local column math fused into the scan (the gopher/c4
    contract)."""
    p = plan(REGISTRY["curate_fineweb_filters"].fn(spark, sf_dir))
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "SortMergeJoin" not in p and "mapInPandas" not in p.lower()


def test_soft_weights_hash_keyed_only(spark, sf_dir):
    """DF build and doc rollup shuffle on the gram digest / doc_id only —
    no doc x doc pairing, no sort, no cartesian anywhere."""
    p = plan(REGISTRY["dedup_soft_weights"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "rangepartitioning" not in p


def test_html_extract_map_only(spark, sf_dir):
    """Page synthesis fuses into the scan and extraction is a map-only
    Arrow stage: no shuffle of any kind in the whole plan."""
    p = plan(REGISTRY["text_html_extract"].fn(spark, sf_dir))
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "Join" not in p


def test_oov_rate_vocab_broadcasts(spark, sf_dir):
    """The top-K vocab reaches the token join as a broadcast build side;
    the corpus-sized probe side must never sort-merge."""
    p = plan(REGISTRY["text_oov_rate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_temperature_weights_single_corpus_shuffle(spark, sf_dir):
    """One corpus-sized groupBy(lang); the normalizing window runs on the
    metadata-scale language table (empty-frame window is fine THERE —
    the frame is a handful of rows by construction)."""
    p = plan(REGISTRY["mix_temperature_weights"].fn(spark, sf_dir))
    assert len(re.findall(r"hashpartitioning\(lang", p)) >= 1
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_web_pipeline_zero_shuffle_end_to_end(spark, sf_dir):
    """Synthesis, extraction (one Arrow stage), and the C4 gates compose
    without a single exchange — the composite runs at scan speed."""
    p = plan(REGISTRY["pipeline_web_extract_clean"].fn(spark, sf_dir))
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "Join" not in p


# ------------------------- round-10 continuation, third batch


def test_welch_and_anova_single_fact_shuffle(spark, sf_dir):
    """One partial-merging hash aggregate keyed on event_type; the
    closed-form assembly adds no joins, windows, or sorts over data."""
    for name in ("stat_welch_ttest", "stat_anova_oneway"):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        hp = set(re.findall(r"hashpartitioning\((\w+)", p))
        assert hp <= {"event_type", "k"}, (name, hp)
        assert "rangepartitioning" not in p
        assert "SortMergeJoin" not in p


def test_stratified_split_no_per_stratum_corpus_window(spark, sf_dir):
    """The rank must come from the bucketed prefix sum, not a
    Window.partitionBy(lang) over raw rows: the only corpus-keyed
    exchanges are lang (partial-combined strata COUNTS, tiny after
    map-side combine) and the prefix-sum bucket key; no global sort; the
    strata table reaches the corpus via broadcast."""
    p = plan(REGISTRY["split_stratified_exact"].fn(spark, sf_dir))
    hp = set(re.findall(r"hashpartitioning\((\w+)", p))
    assert hp <= {"lang", "_pb"}, hp
    assert "rangepartitioning" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_theilsen_pair_stage_is_gated_broadcast_nested_loop(spark, sf_dir):
    """The O(K^2) pair join is an explicit BroadcastNestedLoopJoin of
    the md5-gated K-row frame — never an ungated CartesianProduct, and
    no sort-merge anywhere. Since r13 the pair stage runs eagerly inside
    exact_median_scalar (the banded median), so assert on the pair frame
    the query builds, then on the returned readout plan (metadata-scale:
    no data-sized join of any kind)."""
    from pyspark.sql import functions as F

    from pasardassist_spark.queries.matching import _TS_GATE
    from pasardassist_spark.tables import load

    cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("x"), F.sum("o_totalprice").alias("y"))
    )
    gate = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 4), 16, 10
    ).cast("long")
    g = cust.filter(gate < _TS_GATE).select("x", "y")
    a, b = g.alias("a"), g.alias("b")
    ax, ay, bx, by = F.col("a.x"), F.col("a.y"), F.col("b.x"), F.col("b.y")
    pairs = a.join(
        F.broadcast(b), ((ax < bx) | ((ax == bx) & (ay < by))) & (ax != bx)
    )
    pp = plan(pairs)
    assert "BroadcastNestedLoopJoin" in pp
    assert "CartesianProduct" not in pp
    assert "SortMergeJoin" not in pp
    p = plan(REGISTRY["stat_theilsen_line"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_bootstrap_single_aggregation_pass(spark, sf_dir):
    """All B replicas reduce in ONE hash aggregation keyed on the
    replica id (map-side combine after the explode — shuffle volume is
    B rows per partition); the point-estimate frame joins back as a
    1-row broadcast; no sort, no data-sized join."""
    p = plan(REGISTRY["stat_bootstrap_ci"].fn(spark, sf_dir))
    hp = set(re.findall(r"hashpartitioning\((\w+)", p))
    assert hp <= {"b", "n"}, hp
    assert "rangepartitioning" not in p
    assert "SortMergeJoin" not in p


def test_readability_single_doc_shuffle_no_udf(spark, sf_dir):
    """Word explode, regexp syllable counts, and the closed forms are
    JVM column math: one doc-grain shuffle, zero joins, zero Python."""
    p = plan(REGISTRY["text_readability"].fn(spark, sf_dir))
    hp = set(re.findall(r"hashpartitioning\((\w+)", p))
    assert hp == {"doc_id"}, hp
    assert "Join" not in p
    assert "mapInPandas" not in p.lower() and "BatchEvalPython" not in p


# ------------------------- round-11 document-format + analytics batch


@pytest.mark.parametrize("name", [
    "doc_pdf_extract", "doc_docx_extract", "doc_epub_extract",
    "doc_markdown_extract", "doc_latex_extract", "doc_rtf_extract",
    "doc_odt_extract", "doc_feed_extract", "pipeline_any_doc_extract",
    "mm_subtitle_cues", "mm_midi_features", "mm_tiff_decode",
    "mm_audio_g711", "mm_audio_adpcm", "mm_gif_frames",
])
def test_doc_and_codec_queries_are_pure_map_passes(spark, sf_dir, name):
    """The entire document/codec family is scan -> (loader fan-out) ->
    one Arrow stage: no hash/range exchange, no join — at 100 TB each
    runs at input bandwidth."""
    p = plan(REGISTRY[name].fn(spark, sf_dir))
    assert "hashpartitioning" not in p and "rangepartitioning" not in p
    assert "Join" not in p
    # exactly one Python stage NODE (formatted plans mention each node in
    # the tree summary AND the detail section)
    n_py = len(re.findall(r"\(\d+\) (?:MapInPandas|ArrowEvalPython)", p))
    assert n_py <= 1, p


def test_pipeline_doc_gates_fuse_onto_extraction(spark, sf_dir):
    """Extraction and the Gopher gates compose without an exchange."""
    p = plan(REGISTRY["pipeline_doc_extract_clean"].fn(spark, sf_dir))
    assert "hashpartitioning" not in p and "Join" not in p


def test_format_chat_sft_is_jvm_only(spark, sf_dir):
    """The ChatML render never leaves the JVM: no Python evaluator in
    the plan, no exchange beyond the loader fan-out."""
    p = plan(REGISTRY["format_chat_sft"].fn(spark, sf_dir))
    assert "Python" not in p and "MapInPandas" not in p
    assert "hashpartitioning" not in p and "Join" not in p


def test_kneser_ney_scoring_joins_broadcast(spark, sf_dir):
    """The KN model tables join back as broadcasts; the corpus-scale
    trigram stream shuffles only for its own count aggregations."""
    p = plan(REGISTRY["curate_kneser_ney_ppl"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_pmi_scoring_joins_broadcast(spark, sf_dir):
    p = plan(REGISTRY["text_pmi_collocations"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_mutual_information_rank_is_distributed(spark, sf_dir):
    """The NTILE emulation must ride the two-phase prefix count — the
    only single-partition window allowed is the n_buckets-row offsets
    frame, never a corpus-scale sort."""
    df = REGISTRY["stat_mutual_information"].fn(spark, sf_dir)
    p = plan(df)
    # the corpus-scale window partitions by bucket; a global corpus sort
    # would appear as a Window with an empty partition spec directly over
    # the scan-sized exchange (rangepartitioning)
    assert "rangepartitioning" not in p


def test_zorder_layout_single_shuffle_one_codegen_interleave(spark, sf_dir):
    """The Morton layout job must cost ONE hash shuffle (the file-grain
    aggregate) over a pruned 2-column scan; the unrolled 16-step bit
    interleave must constant-fold into plan expressions, never a UDF."""
    df = REGISTRY["lake_zorder_layout"].fn(spark, sf_dir)
    p = plan(df)
    hash_exchanges = re.findall(r"\(\d+\) Exchange hashpartitioning", p)
    assert len(hash_exchanges) <= 1, f"zorder shuffled {len(hash_exchanges)}x"
    assert "pythonUDF" not in p and "BatchEvalPython" not in p
    for col in ("o_orderstatus", "o_totalprice", "o_orderpriority"):
        assert col not in p, f"zorder read unneeded column {col}"


def test_table_checksum_single_shuffle_jvm_side(spark, sf_dir):
    """Canonicalization + md5 + bucket agg must be one scan, one shuffle,
    all JVM-side (the 100 TB audit is scan-bound by contract)."""
    df = REGISTRY["dq_table_checksum"].fn(spark, sf_dir)
    p = plan(df)
    hash_exchanges = re.findall(r"\(\d+\) Exchange hashpartitioning", p)
    assert len(hash_exchanges) <= 1
    assert "pythonUDF" not in p and "BatchEvalPython" not in p
    assert "md5" in p  # hashing stayed in the plan, not the driver


def test_survival_pair_duration_grain_before_windows(spark, sf_dir):
    """Both survival queries must aggregate to user grain then duration
    grain BEFORE any window — the windows run on the tiny frame, and the
    only SinglePartition exchange feeds them, never the fact table."""
    for name in ("surv_kaplan_meier", "surv_logrank_test"):
        df = REGISTRY[name].fn(spark, sf_dir)
        p = plan(df)
        # the fact-sized shuffle is the user_id aggregate; windows come
        # after at least one HashAggregate in every path
        sp = p.find("Exchange SinglePartition")
        agg = p.find("HashAggregate")
        assert sp == -1 or agg != -1, f"{name}: window before any aggregate"
        assert "BatchEvalPython" not in p


# ------------------------------- round-14 second-session plan shapes


def test_stat_friedman_single_fact_scan(spark, sf_dir):
    """Four consumers fork off the persisted cell frame: the FACT scans
    exactly once; every downstream Exchange moves the metadata-scale
    days*k frame only.  No fact-fact join anywhere."""
    # another test may have persisted the IDENTICAL day/cell frame
    # (Spark's cache manager substitutes it into this plan, hiding
    # the FileScan) — clear the cache so scan counting is
    # order-independent
    spark.catalog.clearCache()
    df = REGISTRY["stat_friedman"].fn(spark, sf_dir)
    p = plan(df)
    schemas = read_schemas(p)
    assert len(schemas) == 1, f"fact scanned {len(schemas)}x"
    assert set(schemas[0]) == {"ts", "event_type", "value"}
    assert "SortMergeJoin" not in p


def test_stat_jarque_bera_single_hash_aggregate(spark, sf_dir):
    """One map-side-combining aggregate, one data shuffle, pruned scan."""
    df = REGISTRY["stat_jarque_bera"].fn(spark, sf_dir)
    p = plan(df)
    # exactly one hash aggregate on the fact; the only other Exchange
    # is the ORDER BY range partition of the 5-row output frame
    import re as _re

    assert len(_re.findall(r"hashpartitioning", p)) >= 1
    assert len({m for m in _re.findall(r"hashpartitioning\(\w+", p)}) == 1
    (schema,) = read_schemas(p)
    assert schema == {"event_type", "value"}


def test_samp_neyman_single_aggregate_window_denominator(spark, sf_dir):
    """ONE fact aggregate; the denominator is an unpartitioned window
    over the k-row stratum frame, not a second fact scan."""
    # another test may have persisted the IDENTICAL day/cell frame
    # (Spark's cache manager substitutes it into this plan, hiding
    # the FileScan) — clear the cache so scan counting is
    # order-independent
    spark.catalog.clearCache()
    df = REGISTRY["samp_neyman_allocation"].fn(spark, sf_dir)
    p = plan(df)
    assert len(read_schemas(p)) == 1
    assert data_shuffle_count(p) == 1  # the stratum aggregate
    assert "SortMergeJoin" not in p


def test_cvm_prefix_window_single_value_grain_shuffle(spark, sf_dir):
    """Value-grain aggregate then the two-phase bucketed prefix sum (r16
    migration); the counts frame is persisted so the two prefix-sum
    branches share ONE fact scan."""
    spark.catalog.clearCache()  # scan counting must not see another
    # test's cached twin of the same counts frame
    df = REGISTRY["stat_cvm_2samp"].fn(spark, sf_dir)
    p = plan(df)
    assert "SortMergeJoin" not in p
    (schema,) = read_schemas(p)
    assert schema == {"event_type", "value"}


def test_kmeans_assignment_is_jvm_side(spark, sf_dir):
    """The distance evaluation must stay in JVM expressions — no
    Python row UDF in the assignment plan (posexplode + hash agg do
    the update)."""
    from pasardassist_spark.queries.mining import ml_kmeans  # noqa: F401

    df = REGISTRY["ml_kmeans"].fn(spark, sf_dir)
    # final frame is a tiny joined summary; assert the heavy child plan
    # of the run left no Python UDF behind by rebuilding one assignment
    import json as _json

    from pyspark.sql import functions as F

    from pasardassist_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select("embedding")
    lit = F.from_json(F.lit(_json.dumps([0.0] * 64)), "array<double>")
    d = emb.select(
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"), lit,
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d0")
    )
    p = plan(d)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert df.count() > 0


def test_mp4_flac_mkv_metadata_walks_fanout_only(spark, sf_dir):
    """The container walks are one Arrow map pass over doc ids: the only
    Exchange allowed is the DELIBERATE round-robin fan-out the table
    loader applies to single-file fixture tables (tables.py
    _FANOUT_TABLES) — never a hash/range repartition."""
    for name in (
        "mm_mp4_meta", "mm_flac_ogg_meta", "mm_mkv_meta",
        # r15 debuts: same fan-out-only contract
        "mm_heif_meta", "mm_aiff_meta", "mm_ico_meta", "mm_svg_meta",
    ):
        p = plan(REGISTRY[name].fn(spark, sf_dir))
        assert "hashpartitioning" not in p, f"{name}: unexpected shuffle"
        assert "rangepartitioning" not in p, f"{name}: unexpected sort"
        assert shuffle_count(p) <= 1
        (schema,) = read_schemas(p)
        assert schema == {"doc_id"}, f"{name}: scan not pruned to ids"


def test_assortativity_broadcast_degree_joins(spark, sf_dir):
    """Degree joins back onto the directed edge list must broadcast
    (degree frame is node-sized); the only SMJ risk is the edge build
    self-join, which is orderkey-keyed."""
    p = plan(REGISTRY["graph_assortativity"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_changepoint_single_sequential_window_chain(spark, sf_dir):
    """One day-grain aggregate, then ONE single-partition window chain
    carrying prefixes and totals; no second fact scan."""
    # another test may have persisted the IDENTICAL day/cell frame
    # (Spark's cache manager substitutes it into this plan, hiding
    # the FileScan) — clear the cache so scan counting is
    # order-independent
    spark.catalog.clearCache()
    df = REGISTRY["ts_changepoint"].fn(spark, sf_dir)
    p = plan(df)
    schemas = read_schemas(p)
    assert len(schemas) == 1
    assert set(schemas[0]) == {"ts", "value"}
    assert data_shuffle_count(p) == 1  # the day aggregate


# ---------------------------------------------------- round-16 operators


@pytest.mark.parametrize(
    "name", ["ml_auc_roc", "stat_kruskal_wallis", "stat_cvm_2samp"]
)
def test_rank_statistics_no_single_partition_value_window(spark, sf_dir, name):
    """The r15 VERDICT's last scale-killer class: these rank statistics
    used to cumulate over ``Window.orderBy("value")`` with no
    partitionBy — a single-task sort of the whole distinct-value domain.
    Migrated onto the two-phase distributed prefix sum
    (operators/packing.py): every window in the plan must either
    PARTITION by the range bucket ``_pb`` (the row-level cumsum, hash
    exchange) or ORDER by ``_pb`` (the n_buckets-row offsets frame —
    metadata-sized by construction). A window spec ordering by the raw
    value with no partition column is the regression."""
    p = plan(REGISTRY[name].fn(spark, sf_dir))
    assert "hashpartitioning(_pb" in p, f"{name}: bucket window lost:\n{p}"
    specs = re.findall(r"windowspecdefinition\((\w+)#\d+", p)
    for col in specs:
        assert col == "_pb", (
            f"{name}: window over {col!r} is not the two-phase bucket "
            f"shape:\n{p}"
        )


@pytest.mark.parametrize("name", ["rfm_segments", "stat_gini_lorenz"])
def test_ntile_queries_distribute_above_threshold(spark, sf_dir, name, monkeypatch):
    """r16: the customer-grain NTILEs dispatch on the measured count —
    plain windows below packing.SINGLE_SORT_MAX_ROWS (cheaper at small
    n), the distributed two-phase row number above it. Force the
    distributed branch (threshold 0) and pin that every window over the
    CUSTOMER grain carries the range-bucket shape. (gini's Lorenz cumsum
    over the 10-row decile frame is metadata-sized by construction and
    stays a plain ordered window.)"""
    from pasardassist_spark.operators import packing

    monkeypatch.setattr(packing, "SINGLE_SORT_MAX_ROWS", 0)
    spark.catalog.clearCache()
    p = plan(REGISTRY[name].fn(spark, sf_dir))
    assert "hashpartitioning(_pb" in p, f"{name}: bucket window lost"
    allowed = {"_pb", "decile"}
    specs = re.findall(r"windowspecdefinition\((\w+)#\d+", p)
    for col in specs:
        assert col in allowed, f"{name}: window over {col!r}:\n{p}"
    # and at the testdata grain the dispatch takes the cheap branch
    monkeypatch.setattr(packing, "SINGLE_SORT_MAX_ROWS", 5_000_000)
    spark.catalog.clearCache()
    p_small = plan(REGISTRY[name].fn(spark, sf_dir))
    assert "hashpartitioning(_pb" not in p_small, f"{name}: small-n branch lost"


def test_privacy_tvd_single_fact_scan_no_data_cartesian(spark, sf_dir):
    """The privacy TVD forms must (a) scan the customer fact ONCE — the
    class-value counts frame is persisted and the global/size/total
    inputs derive from it — and (b) carry no cartesian product except
    the 1-row broadcast-constant totals crossJoin. A second FileScan
    materialization or a non-broadcast nested loop is the 100 TB
    regression."""
    for name in ("privacy_t_closeness", "privacy_t_closeness_ordered"):
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()  # materialize the cache so the executed plan is real
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p, f"{name}: data-side cartesian"
        assert "InMemoryTableScan" in p, f"{name}: class-value cache lost"
        spark.catalog.clearCache()


def test_privacy_kanon_scan_prunes_to_qi(spark, sf_dir):
    """privacy_k_anonymity reads ONLY the two QI columns of the 5-column
    customer table — a full-width scan for a 2-column groupBy is the
    column-pruning regression."""
    p = plan(REGISTRY["privacy_k_anonymity"].fn(spark, sf_dir))
    (schema,) = read_schemas(p)
    assert schema == {"c_nationkey", "c_mktsegment"}


def test_documents_fence_keeps_heavy_filter_above_fanout(spark, sf_dir):
    """The documents pushdown fence (tables.load): once the single-row-group
    file is fanned out, a heavy text predicate must plan ABOVE the
    RoundRobin Exchange — spread over the fan-out partitions, not run in
    the one scan task — while column pruning still reaches the scan."""
    from pyspark.sql import functions as F

    from pasardassist_spark.tables import _max_scan_tasks, load

    path = f"{sf_dir}/documents.parquet"
    if _max_scan_tasks(path) >= spark.sparkContext.defaultParallelism:
        pytest.skip("documents is not fanned out at this parallelism")
    heavy = F.size(F.split(F.lower(F.col("text")), r"\s+")) > 20
    df = load(spark, sf_dir, "documents").filter(heavy).select("doc_id")
    lines = plan(df, "simple").splitlines()
    (fanout,) = [
        i for i, ln in enumerate(lines) if "Exchange RoundRobinPartitioning" in ln
    ]
    gates = [
        i for i, ln in enumerate(lines)
        if re.search(r"\bFilter \(", ln) and "split(lower(text" in ln
    ]
    assert gates and all(i < fanout for i in gates), "\n".join(lines)
    (schema,) = read_schemas(plan(df))
    assert schema == {"doc_id", "text"}


def _broadcast_subtrees(p: str) -> list[str]:
    """Each BroadcastExchange of a "simple" plan with the nodes below it."""
    lines = [ln for ln in p.splitlines() if ln.strip()]

    def depth(ln: str) -> int:
        m = re.search(r"[+:]- ", ln)
        return m.start() if m else -1

    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" in ln:
            sub = [ln]
            for below in lines[i + 1 :]:
                if depth(below) <= depth(ln):
                    break
                sub.append(below)
            out.append("\n".join(sub))
    return out


def test_ann_search_never_broadcasts_the_corpus(spark, sf_dir):
    """ann_topk, ivf_topk and ivfpq_topk broadcast only query-side frames
    (the collected query rows and their bucket codes, the centroids): a
    broadcast with the embeddings scan below it ships the corpus to every
    executor, a driver OOM at scale. The corpus is far above the size
    threshold there, so the test turns size-based broadcasts off and
    checks the explicit ones."""
    from pasardassist_spark.operators import similarity as S
    from pasardassist_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, df in (
            ("ann_topk", S.ann_topk(emb, [0, 1, 2, 3, 4], 10, 64)),
            ("ivf_topk", S.ivf_topk(emb, [0, 1, 2, 3, 4], 10)),
            ("ivfpq_topk", S.ivfpq_topk(emb, [0, 1, 2, 3, 4], 10, 64)),
        ):
            p = plan(df, "simple")
            assert "embeddings.parquet" in p
            subtrees = _broadcast_subtrees(p)
            assert subtrees, name
            for sub in subtrees:
                assert "embeddings.parquet" not in sub, f"{name} broadcasts:\n{sub}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivfpq_search_runs_no_python(spark, sf_dir, tmp_path):
    """Against a stored index, an IVF-PQ search is JVM work only: the
    rotation and the ADC lookup table are computed on the driver, the
    query rows and centroids are local frames, so the executed plan has
    no Python evaluation and no Python-RDD scan."""
    from pasardassist_spark.operators import similarity as S
    from pasardassist_spark.plans import executed_plan
    from pasardassist_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    asg, cent = S.ivf_assignments(emb)
    train = S.pq_training_matrix(emb)
    rot = S.opq_rotation(emb, 64, sample_X=train)
    books = S.pq_codebooks(emb, 64, rotation=rot, sample_X=train)
    S.pq_encode(emb, books, rotation=rot).write.parquet(str(tmp_path / "codes"))
    asg.write.parquet(str(tmp_path / "asg"))
    codes = spark.read.parquet(str(tmp_path / "codes"))
    asg = spark.read.parquet(str(tmp_path / "asg"))
    df = S.ivfpq_topk(
        emb, [0, 1, 2, 3, 4], 10, 64,
        books=books, assignments=asg, centroids=cent, codes=codes, rotation=rot,
    )
    rows = df.collect()
    assert len(rows) == 50
    p = executed_plan(df)
    for node in ("ArrowEvalPython", "BatchEvalPython", "ExistingRDD"):
        assert node not in p, f"{node} in the search plan:\n{p}"
