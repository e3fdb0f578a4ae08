"""Behavioral/property tests for composite operators — beyond the oracle
hash-compare: recall bounds for the ANN path, dedup invariants, pagination
completeness (SURVEY.md §5.3 property list)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pasardassist_spark.operators import similarity as S
from pasardassist_spark.operators.dedup import exact_dedup, jaccard_pairs, minhash_lsh_pairs
from pasardassist_spark.operators.pagination import paginate
from pasardassist_spark.tables import load


def test_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.q_id, r.neighbor_id) for r in S.brute_force_topk(emb, qids, 10).collect()
    }
    approx = {(r.q_id, r.neighbor_id) for r in S.ann_topk(emb, qids, 10, 64).collect()}
    assert approx, "ANN returned no candidates at all"
    recall = len(exact & approx) / len(exact)
    # multi-probe radius 2 (the round-9 default): measured 0.98 at sf0.1,
    # ~0.9 at sf0.001; the floor guards a silent recall regression while
    # staying well above radius 1's 0.74.
    assert recall >= 0.8, f"low ANN recall {recall}"
    # exact-bucket probing (radius 0) still returns sane results; its
    # recall floor is the old, weaker one (top-k of fewer candidates is NOT
    # a subset of multi-probe top-k, so only recall is comparable)
    approx0 = {
        (r.q_id, r.neighbor_id)
        for r in S.ann_topk(emb, qids, 10, 64, probe_radius=0).collect()
    }
    assert len(exact & approx0) / len(exact) >= 0.05


def test_ann_cosine_agrees_with_exact(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1]
    exact = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in S.brute_force_topk(emb, qids, 400).collect()
    }
    for r in S.ann_topk(emb, qids, 10, 64).collect():
        assert abs(exact[(r.q_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_exact_dedup_detects_planted_duplicate(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "Hello  world"), (3, "  hello world  "), (4, "other")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in exact_dedup(df, "text", "doc_id").collect()}
    # 1 and 3 normalize identically (trim+lower); 2 has doubled space -> distinct
    assert out[1].n_copies == 2 and out[3].keep_id == 1 and not out[3].is_canonical
    assert out[2].n_copies == 1 and out[4].is_canonical


def test_minhash_finds_planted_near_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy", 1)
    other = "completely different words about spark shuffles and parquet files " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(df, "text", "doc_id").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_planted_pair(spark):
    a = "one two three four five six seven eight nine ten"
    b = "one two three four five six seven eight nine eleven"
    c = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, a, "en", "s"), (2, b, "en", "s"), (3, c, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    rows = jaccard_pairs(df, "text", "doc_id", ["lang", "source"], n=3, threshold=0.3).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.6
    assert (1, 3) not in pairs


def test_pagination_union_of_pages_is_whole_set(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    total = o.count()
    order = [F.desc("o_totalprice"), F.asc("o_orderkey")]
    page_size = 400
    seen: list[int] = []
    page = 1
    while True:
        rows = paginate(o, order, page, page_size).collect()
        seen.extend(r.o_orderkey for r in rows)
        if len(rows) < page_size:
            break
        page += 1
    assert len(seen) == total
    assert len(set(seen)) == total  # no overlap between pages


def test_salted_join_equals_plain_join(spark, sf_dir):
    from pasardassist_spark.operators.skew import salted_join

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    plain = o.join(c, ["o_custkey"])
    salted = salted_join(o, c, ["o_custkey"], n_salts=4)
    a = sorted(map(str, plain.select(*sorted(plain.columns)).collect()))
    b = sorted(map(str, salted.select(*sorted(salted.columns)).collect()))
    assert a == b
    left_p = o.join(c, ["o_custkey"], "left")
    left_s = salted_join(o, c, ["o_custkey"], n_salts=4, how="left")
    assert left_p.count() == left_s.count()


def test_salted_latest_equals_window_latest(spark, sf_dir):
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.latest import latest_per_key
    from pasardassist_spark.operators.skew import salted_latest_per_key

    ev = load(spark, sf_dir, "events")
    want = latest_per_key(ev, ["user_id"], [F.desc("ts"), F.desc("event_id")])
    got = salted_latest_per_key(
        ev, ["user_id"], F.struct(F.col("ts"), F.col("event_id")), n_salts=4
    )
    a = sorted(map(str, want.select(*sorted(want.columns)).collect()))
    b = sorted(map(str, got.select(*sorted(got.columns)).collect()))
    assert a == b


def test_embcos_lsh_recall_vs_exact(spark, sf_dir):
    from pasardassist_spark.operators.similarity import cosine_pairs, cosine_pairs_lsh

    emb = load(spark, sf_dir, "embeddings")
    exact = {(r.id_a, r.id_b) for r in cosine_pairs(emb, 0.3).collect()}
    approx = {(r.id_a, r.id_b) for r in cosine_pairs_lsh(emb, 0.3, 64).collect()}
    assert approx <= exact  # verify step: no false positives ever
    if exact:
        # high-cosine pairs collide in some table with decent probability
        assert len(approx) / len(exact) >= 0.4


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.q_id, r.neighbor_id) for r in S.brute_force_topk(emb, qids, 10).collect()
    }
    approx = {(r.q_id, r.neighbor_id) for r in S.ivf_topk(emb, qids, 10).collect()}
    assert approx
    recall = len(exact & approx) / len(exact)
    # round-8 operating point (10/16 lists probed) measures 0.86-0.88
    # across sf0.001-0.1; the floor guards a silent recall regression
    assert recall >= 0.7, f"low IVF recall {recall}"
    # rerank cosines are exact
    ref = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in S.brute_force_topk(emb, qids, 400).collect()
    }
    for r in S.ivf_topk(emb, qids, 10).collect():
        assert abs(ref[(r.q_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_ivfpq_recall_vs_brute_force(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.q_id, r.neighbor_id) for r in S.brute_force_topk(emb, qids, 10).collect()
    }
    rows = S.ivfpq_topk(emb, qids, 10, 64).collect()
    approx = {(r.q_id, r.neighbor_id) for r in rows}
    assert approx
    recall = len(exact & approx) / len(exact)
    # round-12 operating point (12/16 lists probed, refine=48k) measures
    # 0.88-0.9 across sf0.001-0.1 — the IVF probe ceiling; the floor
    # guards a silent regression (raised from 0.7 with the retune)
    assert recall >= 0.78, f"low IVF-PQ recall {recall}"
    # the refine step re-scores with exact cosine: values must match brute
    # force wherever both report the pair
    ref = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in S.brute_force_topk(emb, qids, 400).collect()
    }
    for r in rows:
        assert abs(ref[(r.q_id, r.neighbor_id)] - r.cosine) < 1e-9
    # every query returns a full, unique top-k
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r.neighbor_id)
    for q_id, ns in by_q.items():
        assert len(ns) == len(set(ns)) == 10


def test_adc_table_matches_the_jvm_fold(spark):
    """The driver-side ADC lookup table is bit-identical to the same table
    folded by Spark's ``dot`` expression, so ADC scores, and the shortlist
    they rank, equal a Spark-side computation."""
    import numpy as np

    from pasardassist_spark.tables import local_frame

    rng = np.random.default_rng(3)
    m, k, sub = 8, 16, 8
    books = [[list(map(float, rng.standard_normal(sub))) for _ in range(k)] for _ in range(m)]
    x = list(map(float, rng.standard_normal(m * sub) / 7.0))
    rows = local_frame(
        spark,
        [(s, j, x, books[s][j]) for s in range(m) for j in range(k)],
        "s int, j int, x array<double>, c array<double>",
    ).select(
        "s", "j", S.dot(F.slice("x", F.col("s") * sub + 1, sub), F.col("c")).alias("pd")
    ).collect()
    jvm = [r.pd for r in sorted(rows, key=lambda r: (r.s, r.j))]
    assert S._adc_table(x, books, sub) == jvm


def test_ann_build_does_not_depend_on_partitioning(spark, sf_dir):
    """The training sample is ordered by id before k-means++ seeds on row
    indexes, so the same corpus in 1 or 7 partitions trains the same
    centroids, rotation and codebooks and returns the same top-k."""
    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]

    def build(parts):
        e = emb.repartition(parts)
        _, cent = S.ivf_assignments(e)
        train = S.pq_training_matrix(e)
        rot = S.opq_rotation(e, 64, sample_X=train)
        books = S.pq_codebooks(e, 64, rotation=rot, sample_X=train)
        topk = S.ivfpq_topk(e, qids, 10, 64, rotation=rot, sample_X=train)
        return (
            sorted(cent.collect()), rot, books,
            sorted(topk.collect()), sorted(S.ivf_topk(e, qids, 10).collect()),
        )

    one, seven = build(1), build(7)
    for name, a, b in zip(("centroids", "rotation", "books", "ivfpq", "ivf"), one, seven):
        assert a == b, name


def test_opq_rotation_objective_and_lift(spark):
    """OPQ's contract: (a) R is orthogonal, (b) the quantization MSE —
    OPQ's actual objective — improves over no rotation on anisotropic
    data, (c) end-to-end IVF-PQ recall on a planted axis-aligned
    anisotropic corpus is LIFTED decisively by the rotation (offline
    sweep: 0.505 -> 0.905 at refine=100; asserted with slack)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    n, dim = 2000, 64
    X = rng.standard_normal((n, dim)) * np.sqrt(0.82 ** np.arange(dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(n), "embedding": [list(map(float, r)) for r in X]}
        ),
        "vec_id long, embedding array<double>",
    )

    R = S.opq_rotation(emb, dim)
    Rm = np.asarray(R)
    assert np.allclose(Rm @ Rm.T, np.eye(dim), atol=1e-8)

    mse_plain = S.pq_quantization_mse(emb, dim)
    mse_opq = S.pq_quantization_mse(emb, dim, rotation=R)
    assert mse_opq < mse_plain * 0.8, (mse_plain, mse_opq)

    qids = [0, 1, 2, 3, 4]
    exact = {
        (r.q_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, qids, 10).collect()
    }
    # narrow refine so the shortlist quality (what OPQ improves) binds
    got_plain = {
        (r.q_id, r.neighbor_id)
        for r in S.ivfpq_topk(emb, qids, 10, dim, refine=10).collect()
    }
    got_opq = {
        (r.q_id, r.neighbor_id)
        for r in S.ivfpq_topk(
            emb, qids, 10, dim, refine=10, rotation=R
        ).collect()
    }
    r_plain = len(exact & got_plain) / len(exact)
    r_opq = len(exact & got_opq) / len(exact)
    assert r_opq >= r_plain + 0.1, (r_plain, r_opq)
    assert r_opq >= 0.7, r_opq


def test_opq_rotation_rejects_an_uneven_split():
    """The split check is a runtime check: ``python -O`` keeps it."""
    import pytest

    with pytest.raises(ValueError, match="dim 10 not divisible into 4 subspaces"):
        S.opq_rotation(None, 10, m=4)


def test_pq_codebooks_rejects_an_uneven_split():
    import pytest

    with pytest.raises(ValueError, match="dim 10 not divisible into 4 subspaces"):
        S.pq_codebooks(None, 10, m=4)


def test_asof_join_semantics(spark):
    from pasardassist_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 205), (3, "a", 50), (4, "b", 100)],
        "id long, k string, ts long",
    )
    right = spark.createDataFrame(
        [("a", 100, 1.0), ("a", 200, 2.0), ("b", 150, 9.0)],
        "k string, rts long, rate double",
    )
    got = {
        r.id: r.rate
        for r in asof_join(left, right, ["k"], "ts", "rts", ["rate"]).collect()
    }
    assert got[1] == 1.0   # inclusive: right row AT ts is visible
    assert got[2] == 2.0   # latest prior, not first
    assert got[3] is None  # before any right row -> null
    assert got[4] is None  # right row only in the future -> null


def test_range_join_no_nested_loop(spark, sf_dir):
    from pasardassist_spark.operators.rangejoin import range_join
    from pasardassist_spark.plans import plan
    from pasardassist_spark.streaming.sessions import sessionize_batch

    ev = load(spark, sf_dir, "events")
    sessions = sessionize_batch(ev).select("user_id", "session_start", "session_end")
    points = ev.select("event_id", "user_id", F.unix_micros(F.col("ts")).alias("us"))
    rj = range_join(points, sessions, ["user_id"], "us",
                    "session_start", "session_end", 3_600_000_000)
    p = plan(rj)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # every event lands in exactly one session
    assert rj.count() == ev.count()


def test_asof_join_null_ts_and_collision_guard(spark):
    import pytest as _pytest

    from pasardassist_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "a", 100)], "id long, k string, ts long")
    right = spark.createDataFrame(
        [("a", None, 5.0), ("a", 90, 1.0)], "k string, rts long, rate double"
    )
    # a null-timestamp right row must never match (DuckDB ASOF semantics)
    (row,) = asof_join(left, right, ["k"], "ts", "rts", ["rate"]).collect()
    assert row.rate == 1.0
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, ["k"], "ts", "rts", ["ts"])
    # a left frame already using an internal working name is rejected, not
    # silently corrupted
    bad = left.withColumn("_ats", F.lit(0))
    with _pytest.raises(ValueError, match="internal"):
        asof_join(bad, right, ["k"], "ts", "rts", ["rate"])


def test_simhash64_blocking_is_complete(spark, sf_dir):
    """At the 64-bit width the 16-bit-slice blocking must have PERFECT
    recall vs brute force for Hamming <= 3 (pigeonhole), and signatures at
    both widths must be deterministic across runs."""
    from pasardassist_spark.operators import dedup as D

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    sig = D.simhash_signatures(d, "text", "doc_id", bits=64)
    rows = sig.collect()
    sigs = {r.doc_id: r.simhash for r in rows}
    assert sigs == {r.doc_id: r.simhash for r in sig.collect()}  # deterministic
    ids = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in D.simhash_near_pairs(sig, "doc_id", max_hamming=3, bits=64).collect()
    }
    assert got == brute, (
        f"blocking missed {len(brute - got)} pairs / invented {len(got - brute)}"
    )
    # width/radius contract is enforced, not silently mis-bucketed
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        D.simhash_near_pairs(sig, "doc_id", max_hamming=2, bits=64)


def test_asof_join_null_keys_never_match(spark):
    """NULL join keys must behave like an equi-join (never match) in BOTH
    strategies — not group together as Window.partitionBy would."""
    from pasardassist_spark.operators.asof import asof_join, asof_join_broadcast

    left = spark.createDataFrame(
        [(1, None, 100), (2, "a", 100)], "id long, k string, ts long"
    )
    right = spark.createDataFrame(
        [(None, 50, 7.0), ("a", 50, 1.0)], "k string, rts long, rate double"
    )
    for impl in (asof_join, asof_join_broadcast):
        got = {r.id: r.rate for r in impl(left, right, ["k"], "ts", "rts", ["rate"]).collect()}
        assert got[1] is None, f"{impl.__name__}: null-key left row matched"
        assert got[2] == 1.0, f"{impl.__name__}: non-null key broken"


def test_asof_join_broadcast_equivalence(spark, sf_dir):
    """The dense-broadcast strategy must agree with the union+window
    strategy row-for-row on the real rate-stamping shape, including left
    rows far after the last right bucket and before the first."""
    from pasardassist_spark.operators.asof import asof_join, asof_join_broadcast

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 205), (3, "a", 50), (4, "b", 100),
         (5, "b", 10_000_000), (6, "a", 201), (7, "a", 200), (8, None, 100)],
        "id long, k string, ts long",
    )
    right = spark.createDataFrame(
        [("a", 100, 1.0), ("a", 200, 2.0), ("b", 150, 9.0), ("b", 151, 9.5)],
        "k string, rts long, rate double",
    )
    for width in (7, 100, 1_000_000):  # sub-gap, typical, everything-in-one-bucket
        a = sorted(map(tuple, asof_join(left, right, ["k"], "ts", "rts", ["rate"]).collect()))
        b = sorted(map(tuple, asof_join_broadcast(
            left, right, ["k"], "ts", "rts", ["rate"], bucket_width_us=width
        ).collect()))
        assert a == b, f"strategy divergence at bucket width {width}"
    # and on the real events/rates shape at test scale
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    rates = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("rts"))
        .agg(F.count(F.lit(1)).alias("day_n"))
    )
    a = asof_join(ev, rates, ["event_type"], "ts", "rts", ["day_n"])
    b = asof_join_broadcast(ev, rates, ["event_type"], "ts", "rts", ["day_n"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _uf_components(edges):
    """Union-find ground truth: {node: min-id-of-component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_vs_union_find(spark):
    """The alternating-star CC must agree with a union-find ground truth on
    a worst-case mix: a long chain (diameter >> log n — naive label
    propagation territory), a star, random merges, duplicate + reversed
    edges, and a null endpoint (dropped)."""
    import random

    from pasardassist_spark.operators.components import connected_components

    rng = random.Random(7)
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(120)]
    star = [("s000", f"s{i:03d}") for i in range(1, 40)]
    nodes = [f"r{i:03d}" for i in range(150)]
    rand = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)]
    edges = chain + star + rand
    edges += [(b, a) for a, b in edges[:50]] + edges[:30]  # reversed + dupes
    want = _uf_components(edges)
    df = spark.createDataFrame(
        edges + [(None, "x1"), ("x2", None)], "src string, dst string"
    )
    got = {
        r.node: r.component
        for r in connected_components(df, "src", "dst").collect()
    }
    # union-find keeps self-rooted singletons from self-loop-ish rand edges;
    # the operator contract excludes edgeless nodes, so compare on got's keys
    want = {n: c for n, c in want.items() if any(n in e for e in edges if e[0] != e[1])}
    assert got == want
    assert "x1" not in got and "x2" not in got  # null endpoints dropped


def test_connected_components_guards(spark):
    import pytest as _pytest

    from pasardassist_spark.operators.components import connected_components

    df = spark.createDataFrame([("a", "b")], "src string, _u string")
    with _pytest.raises(ValueError, match="internal"):
        connected_components(df, "src", "_u")
    # empty edge set converges to an empty result
    empty = spark.createDataFrame([], "src string, dst string")
    assert connected_components(empty, "src", "dst").count() == 0


def test_exclusive_prefix_sum_distributed(spark):
    """The two-phase prefix sum must equal a driver-computed ground truth
    for gappy, skewed keys at several bucket counts (1 bucket = the naive
    single-window degenerate case; many buckets > distinct keys forces
    empty buckets)."""
    import random

    from pasardassist_spark.operators.packing import exclusive_prefix_sum

    rng = random.Random(11)
    rows = [(k, rng.randrange(0, 50)) for k in rng.sample(range(0, 10_000_000), 400)]
    rows += [(10_000_001 + i, 7) for i in range(100)]  # dense tail
    want = {}
    acc = 0
    for k, v in sorted(rows):
        want[k] = acc
        acc += v
    df = spark.createDataFrame(rows, "k long, v long")
    for nb in (1, 7, 256, 100_000):
        got = {
            r.k: r.cum_before
            for r in exclusive_prefix_sum(df, "k", "v", n_buckets=nb).collect()
        }
        assert got == want, f"n_buckets={nb}"
    # guards: internal-name collision + empty frame
    import pytest as _pytest

    with _pytest.raises(ValueError, match="internal"):
        exclusive_prefix_sum(df.withColumn("_pb", F.lit(1)), "k", "v")
    empty = spark.createDataFrame([], "k long, v long")
    assert exclusive_prefix_sum(empty, "k", "v").count() == 0


def test_prefix_sum_null_key_raises_loudly(spark):
    """A null/NaN key would get a null range bucket that the offsets
    inner join silently DROPS (r17 review) — both prefix-sum forms must
    raise instead, same contract as distributed_row_number."""
    import pytest as _pytest

    from pasardassist_spark.operators.packing import (
        exclusive_prefix_sum,
        inclusive_prefix_sum,
    )

    mixed = spark.createDataFrame(
        [(1.0, 2), (None, 3), (5.0, 4)], "k double, v long"
    )
    with _pytest.raises(Exception, match="null"):
        exclusive_prefix_sum(mixed, "k", "v").collect()
    with _pytest.raises(Exception, match="null"):
        inclusive_prefix_sum(mixed, "k", "v").collect()
    # all-null keys: caught eagerly on the driver (min/max agg sees it)
    all_null = spark.createDataFrame([(None, 2)], "k double, v long")
    with _pytest.raises(ValueError, match="null on every row"):
        exclusive_prefix_sum(all_null, "k", "v")
    with _pytest.raises(ValueError, match="null on every row"):
        inclusive_prefix_sum(all_null, "k", "v")
    # NaN keys: max() propagates NaN, caught on the driver pre-shuffle
    nan = spark.createDataFrame(
        [(1.0, 2), (float("nan"), 3)], "k double, v long"
    )
    with _pytest.raises(ValueError, match="NaN"):
        inclusive_prefix_sum(nan, "k", "v")
    # bounds-provided path (skips the driver agg): row-level guard fires
    with _pytest.raises(Exception, match="null"):
        exclusive_prefix_sum(mixed, "k", "v", bounds=(1, 5)).collect()


def test_split_by_cluster_no_leakage(spark, sf_dir):
    """The split invariant that motivates the operator: every near-dup
    PAIR lands wholly in one split — no test document has a near-dup in
    train. Also: both splits populated, rate sane (cluster-level ~10%)."""
    from pasardassist_spark.queries.registry import REGISTRY, _load_all

    _load_all()
    rows = REGISTRY["split_by_cluster"].fn(spark, sf_dir).collect()
    split_of = {r.doc_id: r.split for r in rows}
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values()), "cluster straddles splits"
    pairs = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    for p in pairs:
        assert split_of[p.doc_a] == split_of[p.doc_b], (p.doc_a, p.doc_b)
    n_test = sum(1 for r in rows if r.split == "test")
    assert 0 < n_test < len(rows)
    frac = sum(1 for c in by_cluster if split_of[min(
        r.doc_id for r in rows if r.cluster_id == c)] == "test") / len(by_cluster)
    assert 0.03 < frac < 0.25, f"cluster-level test fraction {frac}"


def test_max_run_count_edges(spark):
    """Sorted-run top-token count: ties, all-same, singleton, and the
    run-reset boundary (the bug class: a reset that forgets to compare
    the final run against the best)."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.text import max_run_count, tokens

    cases = [
        ("a", 1),                      # singleton
        ("a a a a", 4),                # all same
        ("a b a b a", 3),              # interleaved -> sorted runs 3/2
        ("b b c c", 2),                # tie resolves to the same count
        ("x a a a a y", 4),            # longest run ends mid-array
        ("a b c d e f", 1),            # all distinct
        ("z z z a", 3),                # longest run is the LAST sorted run
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = df.select(
        "text", max_run_count(F.array_sort(tokens(F.col("text")))).alias("m")
    ).collect()
    want = dict(cases)
    for r in got:
        assert r.m == want[r.text], (r.text, r.m, want[r.text])


def test_semdedup_matches_within_cluster_union_find(spark, sf_dir):
    """SemDeDup ground truth: components must equal a Python union-find over
    the exact within-cluster pair graph (same rounding, same tau), with
    min-id canonicals; every vector appears exactly once."""
    import numpy as np

    tau = 0.35
    emb = load(spark, sf_dir, "embeddings")
    out = {r.vec_id: r for r in S.semdedup(emb, tau).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    assert len(out) == len(rows)

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    by_list: dict[int, list[int]] = {}
    for vid, r in out.items():
        by_list.setdefault(r.list_id, []).append(vid)

    parent = {v: v for v in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_pairs = 0
    for ids in by_list.values():
        ids = sorted(ids)
        norms = {i: float(np.linalg.norm(vecs[i])) for i in ids}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                c = round(float(vecs[a] @ vecs[b]) / (norms[a] * norms[b]), 6)
                if c >= tau:
                    n_pairs += 1
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        # smaller root stays root => final root is the min id
                        parent[max(ra, rb)] = min(ra, rb)
    assert n_pairs > 0, "corpus/tau produced no within-cluster pairs to test"
    for vid, r in out.items():
        assert r.sem_cluster == find(vid), (vid, r.sem_cluster, find(vid))
        assert bool(r.is_canonical) == (r.sem_cluster == vid)


def test_incremental_dedup_flags_planted_dups(spark):
    """Exact dup → dup_exact; shingle-identical doc → dup_near; novel doc →
    keep. The snapshot index side never materializes new×old text pairs
    (no CartesianProduct in the plan)."""
    from pasardassist_spark.operators.dedup import incremental_dedup
    from pasardassist_spark.plans import plan

    base = "the quick brown fox jumps over the lazy dog again and again"
    snap = spark.createDataFrame(
        [(0, base), (2, "completely different snapshot text with many unique words here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, base),  # exact copy of snapshot doc 0
            (3, base + " extra"),  # shares 5-gram shingles -> near
            (5, "entirely novel document unlike anything in the old corpus at all"),
        ],
        "doc_id long, text string",
    )
    out = incremental_dedup(batch, snap, "text", "doc_id")
    assert "CartesianProduct" not in plan(out)
    got = {r.doc_id: (r.dup_exact, r.dup_near, r.keep) for r in out.collect()}
    assert got[1] == (True, True, False)
    assert got[3] == (False, True, False)
    assert got[5] == (False, False, True)


def test_space_saving_contains_exact_heavy_hitters(spark, sf_dir):
    """MG guarantee: every key with true count > n/capacity survives the
    per-partition fold + merge — so the exact heavy-hitter set (1.2x fair
    share, far above n/capacity here) is contained in the sketch output."""
    from pasardassist_spark.queries.analytics import (
        hh_heavy_hitters,
        hh_space_saving,
        space_saving_topk,
    )
    from pasardassist_spark.tables import load

    ev = load(spark, sf_dir, "events")
    exact = {r.user_id for r in hh_heavy_hitters(spark, sf_dir).collect()}
    sketch = {
        r.user_id for r in space_saving_topk(ev, "user_id").collect()
    }
    assert exact <= sketch, f"sketch dropped heavy hitters: {exact - sketch}"
    # the registered query is the oracle-gated verification form (r18):
    # every guaranteed-heavy derived key present with both booleans true
    ver = hh_space_saving(spark, sf_dir).collect()
    assert ver and all(r.in_sketch and r.bounds_ok for r in ver)


def test_space_saving_skewed_guarantee(spark):
    """Synthetic skew with MANY more distinct keys than sketch capacity:
    a key holding ~20% of n must be present, and its merged estimate must
    respect est <= true <= est + n/capacity (per-partition error adds up,
    so the bound uses the summed partition sizes — here one partition)."""
    from pasardassist_spark.queries.analytics import space_saving_topk

    rows = [(7,)] * 2000 + [(k,) for k in range(1000, 9000)]  # n=10000
    df = spark.createDataFrame(rows, "user_id long").repartition(1)
    got = {r.user_id: r.est for r in space_saving_topk(df, "user_id", 64).collect()}
    n = len(rows)
    assert 7 in got, "heavy key evicted from MG summary"
    assert got[7] <= 2000 <= got[7] + n // 64


def test_dsir_gumbel_topk_resample(spark, sf_dir):
    """Gumbel-top-k over DSIR weights is a deterministic importance
    resample: repeat runs agree exactly, and the selected quarter is
    biased toward the target domain (higher mean weight; the lang='en'
    target over-represented vs its corpus share)."""
    from pasardassist_spark.queries.curation import curate_dsir_weights
    from pasardassist_spark.tables import load

    dw = curate_dsir_weights(spark, sf_dir)
    n = dw.count()
    k = max(1, n // 4)
    pick = lambda: [
        r.doc_id for r in dw.orderBy(F.desc("sample_key"), "doc_id").limit(k).collect()
    ]
    sel = pick()
    assert sel == pick(), "resample is not deterministic"
    rows = {r.doc_id: r.weight for r in dw.collect()}
    mean_all = sum(rows.values()) / len(rows)
    mean_sel = sum(rows[d] for d in sel) / len(sel)
    assert mean_sel > mean_all, "selection not importance-biased"
    langs = {
        r.doc_id: r.lang for r in load(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    }
    share_all = sum(1 for v in langs.values() if v == "en") / len(langs)
    share_sel = sum(1 for d in sel if langs[d] == "en") / len(sel)
    assert share_sel > share_all, f"target share {share_sel} <= corpus share {share_all}"


def test_hll_weekly_merge_error_bound(spark, sf_dir):
    """Merged daily sketches must estimate weekly distinct users within
    HLL error at lgConfigK=12 (rel. std err ~1.6%; assert 5%), and the
    merge must equal sketching the week directly (mergeability)."""
    from pasardassist_spark.queries.analytics import (
        hll_user_rollup,
        hll_weekly_estimates,
    )
    from pasardassist_spark.tables import load

    ev = load(spark, sf_dir, "events")
    got = {
        str(r.week): r.est_users
        for r in hll_weekly_estimates(ev).collect()
    }
    exact = {
        str(r.week): r.u
        for r in ev.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.count_distinct("user_id").alias("u"))
        .collect()
    }
    assert set(got) == set(exact)
    for wk, est in got.items():
        assert abs(est - exact[wk]) / exact[wk] <= 0.05, (wk, est, exact[wk])
    direct = {
        str(r.week): r.est
        for r in ev.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est"))
        .collect()
    }
    assert got == direct, "daily-sketch merge != direct weekly sketch"
    # the registered query is the oracle-gated verification form (r18)
    ver = hll_user_rollup(spark, sf_dir).collect()
    assert ver and all(r.est_within_tol for r in ver)


def test_funnel_requires_stage_order(spark):
    """A user whose purchase precedes their first view (or who skips a
    stage) must not count in downstream stages — the ordered-sequence
    semantics that distinguish a funnel from three independent counts."""
    import datetime as dt

    from pasardassist_spark.queries import analytics as A

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, typ, minutes):
        return (uid, typ, t0 + dt.timedelta(minutes=minutes))

    rows = [
        # u1: clean view -> click -> purchase
        ev(1, "view", 0), ev(1, "click", 1), ev(1, "purchase", 2),
        # u2: purchase BEFORE view: counts for view only
        ev(2, "purchase", 0), ev(2, "view", 1),
        # u3: view then purchase but never clicks: stops at view
        ev(3, "view", 0), ev(3, "purchase", 5),
        # u4: click with no view at all: counts nowhere
        ev(4, "click", 0),
        # u5: view and click simultaneous (ts equal): strict > excludes
        ev(5, "view", 0), ev(5, "click", 0),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # reuse the query body against the synthetic frame
    w = Window.partitionBy("user_id")
    et, ts = F.col("event_type"), F.col("ts")
    d = (
        df.withColumn("t1", F.min(F.when(et == "view", ts)).over(w))
        .withColumn("t2", F.min(F.when((et == "click") & (ts > F.col("t1")), ts)).over(w))
        .withColumn("t3", F.min(F.when((et == "purchase") & (ts > F.col("t2")), ts)).over(w))
    )
    u = d.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    got = {
        r.user_id: (r.t1 is not None, r.t2 is not None, r.t3 is not None)
        for r in u.collect()
    }
    assert got == {
        1: (True, True, True),
        2: (True, False, False),
        3: (True, False, False),
        4: (False, False, False),
        5: (True, False, False),
    }


def _bpe_reference(word_counts, n_merges):
    """Sequential BPE reference (independent implementation for the
    differential test): dict-of-tuples, same tiebreak (count desc, pair
    lexicographic)."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), n = best
        if n < 2:
            break
        merges.append((a, b, n))
        new_vocab = {}
        for syms, c in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_training_matches_sequential_reference(spark):
    """Distributed BPE merge training must learn the exact merge sequence
    the sequential reference learns (same greedy argmax + tiebreak) on a
    corpus with known structure."""
    from pasardassist_spark.operators.bpe import train_bpe_merges

    words = {
        "low": 5, "lower": 2, "newest": 6, "widest": 3, "low low": 0,
        "hug": 10, "pug": 5, "pun": 12, "bun": 4, "hugs": 5,
    }
    rows = []
    for w, c in words.items():
        rows.extend([(w,)] * c)
    corpus = spark.createDataFrame(rows, "text string")
    got = train_bpe_merges(corpus, "text", 8)
    want = _bpe_reference({w: c for w, c in words.items() if c > 0}, 8)
    assert got == want, f"\ngot:  {got}\nwant: {want}"


def test_multi_touch_credit_conservation(spark, sf_dir):
    """Linear attribution must conserve credit: the per-touch credits sum
    to exactly the number of purchases that had >=1 touch in window."""
    from pyspark.sql import functions as F

    from pasardassist_spark.queries.analytics import attr_multi_touch
    from pasardassist_spark.tables import load

    res = attr_multi_touch(spark, sf_dir).collect()
    total_credit = sum(r.credit for r in res)
    ev = load(spark, sf_dir, "events")
    t = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("u"), F.col("ts").alias("tts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    touched = (
        t.join(
            p,
            (t.u == p.u)
            & (F.col("tts") < F.col("pts"))
            & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 7 DAYS")),
        )
        .select("pid")
        .distinct()
        .count()
    )
    assert abs(total_credit - touched) < 1e-3, (total_credit, touched)


def test_space_saving_multi_partition_error_bound(spark):
    """Merged per-partition MG summaries must respect the summed error
    bound: est <= true <= est + sum_p(n_p / capacity). Uses 4 partitions
    with a planted heavy key and many singletons."""
    from pasardassist_spark.queries.analytics import space_saving_topk

    rows = [(7,)] * 4000 + [(k,) for k in range(10_000, 26_000)]  # n = 20k
    df = spark.createDataFrame(rows, "user_id long").repartition(4)
    cap = 64
    got = {r.user_id: r.est for r in space_saving_topk(df, "user_id", cap).collect()}
    assert 7 in got, "heavy key lost across partition merges"
    # per-partition error adds: each partition holds ~n/4 rows
    bound = sum((len(rows) // 4 + 1) // cap + 1 for _ in range(4))
    assert got[7] <= 4000 <= got[7] + bound, (got[7], bound)


def test_cohort_offsets_and_cdc_classification_edges(spark):
    """Synthetic edges: a single-week user contributes only offset 0 of
    their cohort; CDC classifies added/removed/changed correctly and
    drops unchanged rows."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # --- cohort: u1 active wk1+wk3, u2 active wk2 only
    t0 = dt.datetime(2024, 1, 1)  # a Monday
    rows = [
        (1, t0), (1, t0 + dt.timedelta(days=15)),
        (2, t0 + dt.timedelta(days=8)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    w = Window.partitionBy("user_id")
    act = (
        ev.select("user_id", F.date_trunc("week", "ts").alias("week"))
        .withColumn("cohort_week", F.min("week").over(w))
        .distinct()
    )
    got = {
        (str(r.cohort_week.date()), r.week_offset): r.users
        for r in act.groupBy(
            "cohort_week",
            (F.floor(F.datediff("week", "cohort_week") / 7)).cast("int").alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("users"))
        .collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,  # u1 cohort wk1
        ("2024-01-01", 2): 1,  # u1 returns in wk3
        ("2024-01-08", 0): 1,  # u2 cohort wk2, never returns
    }

    # --- CDC: one added, one removed, one changed, one unchanged (dropped)
    a = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "o_orderkey long, price double"
    )
    b = spark.createDataFrame(
        [(2, 25.0), (3, 30.0), (4, 40.0)], "o_orderkey long, price double"
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    ak, bk = F.col("a.o_orderkey"), F.col("b.o_orderkey")
    diff = {
        r.k: r.ct
        for r in j.where(
            ak.isNull() | bk.isNull() | (F.col("a.price") != F.col("b.price"))
        )
        .select(
            F.coalesce(ak, bk).alias("k"),
            F.when(ak.isNull(), "added")
            .when(bk.isNull(), "removed")
            .otherwise("changed")
            .alias("ct"),
        )
        .collect()
    }
    assert diff == {1: "removed", 2: "changed", 4: "added"}


def test_interval_overlap_join_matches_bruteforce(spark, sf_dir):
    """Bucket-decomposed interval overlap join == brute-force theta join,
    on real session intervals split into two sides; every pair exactly
    once regardless of bucket width."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.rangejoin import interval_overlap_join
    from pasardassist_spark.streaming.sessions import sessionize_batch
    from pasardassist_spark.tables import load

    sess = sessionize_batch(load(spark, sf_dir, "events")).select(
        "user_id",
        F.col("session_start").alias("s"),
        (F.col("session_end") + 1).alias("e"),  # half-open
        F.monotonically_increasing_id().alias("sid"),
    ).localCheckpoint()  # pin ids: monotonically_increasing_id is plan-dependent
    day = F.floor(F.col("s") / 86_400_000_000).alias("day")
    a = sess.select(day, F.col("sid").alias("a_id"), F.col("s").alias("a_s"), F.col("e").alias("a_e")).filter(F.col("a_id") % 2 == 0)
    b = sess.select(day, F.col("sid").alias("b_id"), F.col("s").alias("b_s"), F.col("e").alias("b_e")).filter(F.col("b_id") % 2 == 1)
    for width in [60_000_000, 1_800_000_000, 86_400_000_000]:
        got = [
            (r.a_id, r.b_id)
            for r in interval_overlap_join(
                a, b, ["day"], ("a_s", "a_e"), ("b_s", "b_e"), width
            ).collect()
        ]
        brute = (
            a.join(b, "day")
            .filter((F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
            .select("a_id", "b_id")
            .collect()
        )
        want = sorted((r.a_id, r.b_id) for r in brute)
        assert sorted(got) == want, f"width={width}"
        assert len(got) == len(set(got)), f"dup pairs at width={width}"
    assert want, "no overlapping intervals in fixture"


def _bpe_encode_reference(word, merges):
    """Independent sequential encode reference: subword-nmt semantics —
    repeatedly merge the min-rank pair PRESENT (set-of-pairs + min), one
    greedy left-to-right pass per chosen pair."""
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}
    syms = list(word)
    while len(syms) >= 2:
        present = {(syms[i], syms[i + 1]) for i in range(len(syms) - 1)}
        ranked = sorted((ranks[p], p) for p in present if p in ranks)
        if not ranked:
            break
        _, (a, b) = ranked[0]
        out = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        syms = out
    return syms


def test_bpe_encode_matches_sequential_reference(spark):
    """bpe_encode must reproduce the standard min-rank-present encoding on
    every word of a held-out corpus (including words with unseen chars),
    with per-doc order preserved — and be invariant to partitioning."""
    from pasardassist_spark.operators.bpe import bpe_encode, encode_word, train_bpe_merges

    words = {
        "low": 5, "lower": 2, "newest": 6, "widest": 3,
        "hug": 10, "pug": 5, "pun": 12, "bun": 4, "hugs": 5,
    }
    rows = []
    for w, c in words.items():
        rows.extend([(w,)] * c)
    corpus = spark.createDataFrame(rows, "text string")
    merges = train_bpe_merges(corpus, "text", 8)
    assert merges, "fixture corpus must learn at least one merge"
    ranks = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    held_out = ["lowest", "hugger", "newer", "pugs", "bug", "zap!", "низко"]
    for w in list(words) + held_out:
        assert encode_word(w, ranks) == _bpe_encode_reference(w, merges), w

    docs = spark.createDataFrame(
        [(1, "low lower newest"), (2, "hugs pug  zap!"), (3, "bun")],
        "doc_id long, text string",
    )
    for df in (docs, docs.repartition(7)):
        got = {
            r.doc_id: (list(r.bpe_tokens), r.n_bpe_tokens)
            for r in bpe_encode(df, "text", merges, "doc_id").collect()
        }
        want = {}
        for doc_id, text in [(1, "low lower newest"), (2, "hugs pug  zap!"), (3, "bun")]:
            toks = []
            for w in text.split():
                toks.extend(_bpe_encode_reference(w, merges))
            want[doc_id] = (toks, len(toks))
        assert got == want


def test_shuffle_shards_permutation_properties(spark, sf_dir, tmp_path):
    """Seeded shuffle-sharding must be a deterministic permutation:
    identical coordinates under repartitioning, dense 0..k-1 positions per
    shard, balanced shard sizes, a different permutation per seed — and
    the written layout must lay rows down in shard_pos order."""
    from pasardassist_spark.operators.sharding import (
        shuffle_shards,
        write_shuffled_shards,
    )
    from pasardassist_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n = docs.count()
    coords = {
        r.doc_id: (r.shard, r.shard_pos)
        for r in shuffle_shards(docs, "doc_id", 8, seed=42).collect()
    }
    again = {
        r.doc_id: (r.shard, r.shard_pos)
        for r in shuffle_shards(
            docs.repartition(13), "doc_id", 8, seed=42
        ).collect()
    }
    assert coords == again, "coordinates depend on input partitioning"

    by_shard = {}
    for s, p in coords.values():
        by_shard.setdefault(s, []).append(p)
    assert set(by_shard) == set(range(8))
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps))), f"positions not dense in shard {s}"
    sizes = [len(ps) for ps in by_shard.values()]
    assert max(sizes) < 2 * n / 8, f"shard sizes badly skewed: {sizes}"

    other = {
        r.doc_id: (r.shard, r.shard_pos)
        for r in shuffle_shards(docs, "doc_id", 8, seed=43).collect()
    }
    assert other != coords, "seed does not change the permutation"

    path = str(tmp_path / "shards")
    write_shuffled_shards(docs, path, "doc_id", 4, seed=7)
    import pyarrow.parquet as pq

    disk = spark.read.parquet(path)
    assert disk.count() == n
    # file order == permutation order inside one shard dir
    import glob

    files = glob.glob(f"{path}/shard=2/*.parquet")
    assert files
    tbl = pq.read_table(files[0]).to_pandas()
    assert list(tbl["shard_pos"]) == sorted(tbl["shard_pos"])


def test_bpe_vocab_table_covers_every_emitted_token(spark):
    """Vocab = sorted observed chars, then merged symbols in rank order;
    ids dense and stable under merge growth; every token bpe_encode emits
    on the training corpus is in the vocab."""
    from pasardassist_spark.operators.bpe import (
        bpe_encode,
        bpe_vocab_table,
        train_bpe_merges,
    )

    words = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "hug": 10, "hugs": 5}
    rows = []
    for w, c in words.items():
        rows.extend([(w,)] * c)
    corpus = spark.createDataFrame(rows, "text string")
    merges = train_bpe_merges(corpus, "text", 6)
    vocab = bpe_vocab_table(corpus, "text", merges).collect()
    ids = [r.token_id for r in vocab]
    assert ids == list(range(len(vocab))), "ids not dense"
    chars = [r.symbol for r in vocab if r.kind == "char"]
    assert chars == sorted(set("".join(words)))
    merged = [r.symbol for r in vocab if r.kind == "merge"]
    assert merged == [left + right for left, right, _ in merges]

    # stability: more merges only APPEND (prefix of ids unchanged)
    merges2 = train_bpe_merges(corpus, "text", 8)
    assert merges2[:6] == merges
    vocab2 = bpe_vocab_table(corpus, "text", merges2).collect()
    assert [
        (r.token_id, r.symbol) for r in vocab2[: len(vocab)]
    ] == [(r.token_id, r.symbol) for r in vocab]

    # closure: every emitted token is a vocab symbol
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    emitted = {
        t
        for r in bpe_encode(docs, "text", merges, "doc_id").collect()
        for t in r.bpe_tokens
    }
    assert emitted <= {r.symbol for r in vocab}


def test_batch_by_length_minimizes_padding(spark, sf_dir):
    """Length-sorted batches: dense batch ids, correct sizes, batches
    contiguous in length order, deterministic under repartitioning, and
    total padded cost <= arrival-order chunking on the same data."""
    from pasardassist_spark.operators.packing import batch_by_length
    from pasardassist_spark.operators.text import tokens
    from pasardassist_spark.tables import load

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n_tok"))
    )
    max_rows = 16
    out = batch_by_length(docs, "doc_id", "n_tok", max_rows).collect()
    n = len(out)
    by_batch: dict[int, list] = {}
    for r in out:
        by_batch.setdefault(r.batch_id, []).append(r)
    assert sorted(by_batch) == list(range(len(by_batch)))
    for bid, rows in by_batch.items():
        assert sorted(r.batch_pos for r in rows) == list(range(len(rows)))
        assert len(rows) == (max_rows if bid < len(by_batch) - 1 else len(rows))
    # contiguity: every batch's min length >= previous batch's max length
    maxes = [max(r.n_tok for r in by_batch[b]) for b in sorted(by_batch)]
    mins = [min(r.n_tok for r in by_batch[b]) for b in sorted(by_batch)]
    assert all(mins[i] >= maxes[i - 1] for i in range(1, len(maxes)))

    again = batch_by_length(docs.repartition(9), "doc_id", "n_tok", max_rows)
    assert {(r.doc_id, r.batch_id, r.batch_pos) for r in again.collect()} == {
        (r.doc_id, r.batch_id, r.batch_pos) for r in out
    }

    def padded_cost(batches):
        return sum(len(rows) * max(r.n_tok for r in rows) for rows in batches)

    sorted_cost = padded_cost(by_batch.values())
    arrival = sorted(out, key=lambda r: r.doc_id)
    arrival_batches = [
        arrival[i : i + max_rows] for i in range(0, n, max_rows)
    ]
    assert sorted_cost <= padded_cost(arrival_batches)
    total_tokens = sum(r.n_tok for r in out)
    assert sorted_cost / padded_cost(arrival_batches) < 0.9 or (
        sorted_cost >= total_tokens
    )


def test_pack_and_split_partitions_documents_exactly(spark, sf_dir):
    """Segment rows partition every document: per-doc tok_lens are
    contiguous, start at 0, and sum to the doc's token count; and every
    sequence except the last is filled to exactly the budget."""
    from pasardassist_spark.operators.packing import pack_and_split
    from pasardassist_spark.operators.text import tokens
    from pasardassist_spark.tables import load

    budget = 128
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n_tok"))
    )
    n_by_doc = {r.doc_id: r.n_tok for r in docs.collect()}
    rows = pack_and_split(docs, "doc_id", "n_tok", budget).collect()

    by_doc: dict[int, list] = {}
    by_seq: dict[int, int] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
        by_seq[r.seq_id] = by_seq.get(r.seq_id, 0) + r.tok_len
        assert 0 < r.tok_len <= budget
        assert 0 <= r.seq_offset < budget
    for doc_id, segs in by_doc.items():
        segs.sort(key=lambda r: r.tok_start)
        assert segs[0].tok_start == 0
        for a, b in zip(segs, segs[1:]):
            assert a.tok_start + a.tok_len == b.tok_start  # contiguous
            assert b.seq_offset == 0  # continuation starts a fresh sequence
        assert sum(s.tok_len for s in segs) == n_by_doc[doc_id]
        # consecutive seq ids: a doc occupies an unbroken run of sequences
        assert [s.seq_id for s in segs] == list(
            range(segs[0].seq_id, segs[0].seq_id + len(segs))
        )
    assert set(by_doc) == {d for d, n in n_by_doc.items() if n > 0}
    last_seq = max(by_seq)
    for seq_id, filled in by_seq.items():
        if seq_id < last_seq:
            assert filled == budget


def test_batch_by_length_rejects_bad_keys(spark):
    """Both halves of the composite sort key fail loudly: null/negative/
    oversized ids AND null/negative token counts would silently corrupt
    the layout otherwise."""
    import pytest

    from pasardassist_spark.operators.packing import batch_by_length

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, n_tok long")

    for rows, frag in [
        ([(1, 5), (None, 7)], "null"),
        ([(1, 5), (-2, 7)], "negative"),
        ([(1, 5), (1 << 40, 7)], "overflow"),
        ([(1, None), (2, 7)], "null"),
        ([(1, -3), (2, 7)], "negative"),
        ([(1, 1 << 23), (2, 7)], "overflow"),
    ]:
        with pytest.raises(ValueError, match=r"null|negative|>= 0|overflow"):
            batch_by_length(mk(rows), "doc_id", "n_tok", 4)


def test_ivf_probe_autotune_minimal_monotone_and_achieving(spark, sf_dir):
    """tune_n_probe picks the SMALLEST probe count meeting the target;
    the curve is monotone; and ivf_topk at the chosen count actually
    achieves the target recall on the same held-out sample."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators import similarity as S
    from pasardassist_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    assignments, centroids = S.ivf_assignments(emb)
    target = 0.85
    p, achieved, curve = S.tune_n_probe(
        emb, target, 10, assignments=assignments, centroids=centroids
    )
    # monotone nondecreasing, ends at the index ceiling
    recalls = [r for _p, r in curve]
    assert recalls == sorted(recalls)
    assert achieved >= target
    # minimality: p-1 misses the target (or p == 1)
    if p > 1:
        assert curve[p - 2][1] < target
    assert curve[p - 1][1] == achieved

    # end-to-end: a real search at the tuned probe count reaches the
    # target on the tuner's own sample
    n = emb.count()
    denom = max(1, n // 32)
    sample_ids = [
        int(r[0])
        for r in emb.select("vec_id")
        .filter(F.pmod(F.hash(F.col("vec_id")), F.lit(denom)) == 0)
        .orderBy("vec_id")
        .limit(32)
        .collect()
    ]
    exact = {
        (r.q_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, sample_ids, 10).collect()
    }
    approx = {
        (r.q_id, r.neighbor_id)
        for r in S.ivf_topk(
            emb, sample_ids, 10, n_probe=p,
            assignments=assignments, centroids=centroids,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= target - 1e-9, recall
