"""Replay-equals-batch tests (SURVEY.md §5.2): the streaming ingestion must
converge to exactly the state a batch recomputation produces — the
reference's DataCheckService reconciliation idea turned into a test."""

from __future__ import annotations

import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from pasardassist_spark.operators.latest import latest_per_key
from pasardassist_spark.streaming import (
    maintain_latest_state,
    read_event_stream,
    read_state,
    streaming_day_rollup,
)
from pasardassist_spark.tables import load



def _stage_chunks(spark, tmp_path, rows, schema, k, tag="chunk", coalesce=1):
    """Write `rows` as k time-ordered parquet files in one flat source dir
    (the shape the file-stream source consumes); returns the dir."""
    src = str(tmp_path / f"{tag}_src")
    os.makedirs(src, exist_ok=True)
    size = len(rows) // k + 1
    idx = 0
    for i in range(k):
        part = rows[i * size : (i + 1) * size]
        if not part:
            continue
        staging = str(tmp_path / f"{tag}_stage{i}")
        spark.createDataFrame(part, schema).coalesce(coalesce).write.parquet(staging)
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                os.rename(os.path.join(staging, f), os.path.join(src, f"p{idx}.parquet"))
                idx += 1
    return src


@pytest.fixture()
def chunked_events(spark, sf_dir, tmp_path):
    """Events split into 4 time-ordered parquet chunks to force multiple
    micro-batches (maxFilesPerTrigger=1 => 4 epochs)."""
    ev = load(spark, sf_dir, "events")
    src = str(tmp_path / "stream_src")
    n = ev.count()
    chunk = n // 4 + 1
    # long-nanos ts on disk, mirroring the driver's file layout
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
    rows = raw.orderBy("ts", "event_id").collect()
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, raw.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(src, f"chunk{i}"))
    # flatten: streaming file source wants files in one dir
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    idx = 0
    for root, _, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                os.rename(os.path.join(root, f), os.path.join(flat, f"part{idx}.parquet"))
                idx += 1
    assert idx == 4
    return flat


def _run_stream_to_state(spark, src, tmp_path, tag):
    state_dir = str(tmp_path / f"state_{tag}")
    ckpt = str(tmp_path / f"ckpt_{tag}")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = maintain_latest_state(stream, state_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    return state_dir


def test_replay_equals_batch(spark, sf_dir, tmp_path, chunked_events):
    state_dir = _run_stream_to_state(spark, chunked_events, tmp_path, "a")
    got = read_state(spark, state_dir)
    want = latest_per_key(
        load(spark, sf_dir, "events"), ["user_id"], [F.desc("ts"), F.desc("event_id")]
    )
    g = sorted(map(str, got.select(*sorted(got.columns)).collect()))
    w = sorted(map(str, want.select(*sorted(want.columns)).collect()))
    assert g == w


def test_replay_is_idempotent(spark, sf_dir, tmp_path, chunked_events):
    s1 = _run_stream_to_state(spark, chunked_events, tmp_path, "x")
    s2 = _run_stream_to_state(spark, chunked_events, tmp_path, "y")
    a = sorted(map(str, read_state(spark, s1).collect()))
    b = sorted(map(str, read_state(spark, s2).collect()))
    assert a == b


def test_untouched_buckets_not_rewritten(spark, sf_dir, tmp_path):
    """A batch must only rewrite the key-hash buckets it touches: after a
    second micro-batch containing a single user's events, every other
    bucket's files are byte-identical to the previous generation."""
    import time as _time

    from pasardassist_spark.streaming.ingest import N_STATE_BUCKETS, _state_versions

    ev = load(spark, sf_dir, "events")
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
    one_user = raw.select("user_id").first().user_id
    src = str(tmp_path / "src")
    os.makedirs(src)
    # chunk0: everything; chunk1: just one user's events (one touched bucket)
    raw.coalesce(1).write.parquet(str(tmp_path / "c0"))
    raw.filter(F.col("user_id") == one_user).coalesce(1).write.parquet(str(tmp_path / "c1"))
    for i, cdir in enumerate(["c0", "c1"]):
        (pq,) = [f for f in os.listdir(tmp_path / cdir) if f.endswith(".parquet")]
        dst = os.path.join(src, f"part{i}.parquet")
        os.rename(os.path.join(tmp_path / cdir, pq), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))  # stable order
        _time.sleep(0.01)

    state_dir = str(tmp_path / "state")
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = maintain_latest_state(stream, state_dir, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    gens = _state_versions(state_dir)
    assert len(gens) >= 2, gens
    prev_d, last_d = (os.path.join(state_dir, g) for g in gens[-2:])
    touched = spark.createDataFrame([(one_user,)], "user_id long").select(
        F.pmod(F.hash("user_id"), F.lit(N_STATE_BUCKETS)).alias("b")
    ).first().b
    compared = 0
    for d in os.listdir(prev_d):
        if not d.startswith("bucket=") or d == f"bucket={touched}":
            continue
        for root, _, files in os.walk(os.path.join(prev_d, d)):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                a = os.path.join(root, f)
                b = os.path.join(last_d, d, os.path.relpath(root, os.path.join(prev_d, d)), f)
                b = os.path.normpath(b)
                assert os.path.exists(b), f"missing linked file {b}"
                with open(a, "rb") as fa, open(b, "rb") as fb:
                    assert fa.read() == fb.read(), f"rewritten untouched bucket file {f}"
                compared += 1
    assert compared > 0  # the check actually saw untouched buckets
    # and the merged state is still the batch argmax
    got = read_state(spark, state_dir)
    want = latest_per_key(ev, ["user_id"], [F.desc("ts"), F.desc("event_id")])
    g = sorted(map(str, got.select(*sorted(got.columns)).collect()))
    w = sorted(map(str, want.select(*sorted(want.columns)).collect()))
    assert g == w


def test_streaming_day_rollup_equals_batch(spark, sf_dir, tmp_path, chunked_events):
    stream = read_event_stream(spark, chunked_events, max_files_per_trigger=2)
    agg = streaming_day_rollup(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("day_rollup")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (str(r.day), r.n_events, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM day_rollup").collect()
    }
    ev = load(spark, sf_dir, "events")
    want = {
        (str(r.day), r.n_events, round(r.total_value, 6))
        for r in ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_dynamic_registration_mid_stream(spark, sf_dir, tmp_path):
    """S11: registering a collection between micro-batches (1) admits its
    events from then on and (2) retroactively admits its parked history —
    all without restarting the one multiplexed query."""
    from pasardassist_spark.streaming import (
        admitted_events,
        process_collection_batch,
        register_collection,
        start_epochs,
    )

    ev = load(spark, sf_dir, "events")
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    assert len(types) >= 2
    t_first, t_later = types[0], types[1]
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))

    src = str(tmp_path / "src")
    os.makedirs(src)
    control = str(tmp_path / "control")
    out = str(tmp_path / "out")
    pending = str(tmp_path / "pending")

    def drop_file(df, i):
        staging = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.parquet(staging)
        (pq,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
        os.rename(os.path.join(staging, pq), os.path.join(src, f"part{i}.parquet"))

    half = raw.count() // 2
    rows = raw.orderBy("event_id").collect()
    df1 = spark.createDataFrame(rows[:half], raw.schema)
    df2 = spark.createDataFrame(rows[half:], raw.schema)

    register_collection(spark, control, t_first)
    drop_file(df1, 0)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        process_collection_batch, control_dir=control, out_dir=out, pending_dir=pending
    ))
    q.processAllAvailable()

    admitted1 = admitted_events(spark, out)
    assert set(r[0] for r in admitted1.select("event_type").distinct().collect()) == {t_first}

    # register a second collection MID-STREAM and feed the next chunk
    register_collection(spark, control, t_later)
    drop_file(df2, 1)
    q.processAllAvailable()
    q.stop()

    got = admitted_events(spark, out).filter(F.col("event_type").isin(t_first, t_later))
    want = ev.filter(F.col("event_type").isin(t_first, t_later))
    # both chunks' events for BOTH collections present — including t_later's
    # chunk-1 history that was parked before registration
    assert got.select("event_id").distinct().count() == want.count()
    later_ids_chunk1 = {
        r.event_id for r in df1.filter(F.col("event_type") == t_later).collect()
    }
    got_ids = {r.event_id for r in got.select("event_id").collect()}
    assert later_ids_chunk1 and later_ids_chunk1 <= got_ids


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from pasardassist_spark.streaming.ingest import _state_versions, compact_state

    ev = load(spark, sf_dir, "events")
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
    rows = raw.orderBy("event_id").collect()
    src = _stage_chunks(spark, tmp_path, rows, raw.schema, 3, tag="cpt", coalesce=4)

    state = str(tmp_path / "state")
    stream = read_event_stream(spark, src, max_files_per_trigger=4)
    q = maintain_latest_state(stream, state, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    def parquet_files(gen):
        out = []
        for root, _, files in os.walk(gen):
            out += [f for f in files if f.endswith(".parquet")]
        return out

    # fragment the state: write a generation WITHOUT bucket colocation, the
    # small-files condition a long-running stream accumulates
    from pasardassist_spark.streaming.generations import commit, next_version_dir

    cur = spark.read.parquet(os.path.join(state, _state_versions(state)[-1]))
    frag_dir = next_version_dir(state)
    cur.repartition(8).write.partitionBy("bucket").parquet(frag_dir)
    commit(frag_dir)

    before_dir = os.path.join(state, _state_versions(state)[-1])
    assert before_dir == frag_dir
    before = spark.read.parquet(before_dir)
    n_before_rows = before.count()
    n_before_files = len(parquet_files(before_dir))

    compact_state(spark, state)

    after_dir = os.path.join(state, _state_versions(state)[-1])
    assert after_dir != before_dir  # new committed generation
    n_after_files = len(parquet_files(after_dir))
    assert n_after_files < n_before_files, (n_before_files, n_after_files)
    got = read_state(spark, state)
    assert got.count() == n_before_rows
    want = latest_per_key(ev, ["user_id"], [F.desc("ts"), F.desc("event_id")])
    assert sorted(map(str, got.select(*sorted(got.columns)).collect())) == sorted(
        map(str, want.select(*sorted(want.columns)).collect())
    )


def test_compactor_lost_race_aborts_cleanly(spark, tmp_path, monkeypatch):
    """Two maintenance writers racing for the same version slot: the loser's
    os.rename CAS fails, it returns False, cleans its PID-suffixed temp dir,
    and the winner's committed generation is untouched. Simulated by
    freezing the loser's version listing while a 'concurrent' writer commits
    the contested slot first."""
    import pasardassist_spark.streaming.ingest as ing
    from pasardassist_spark.streaming.generations import (
        commit,
        committed_versions,
        next_version_dir,
    )

    state = str(tmp_path / "race_state")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        F.pmod(F.hash("id"), F.lit(4)).alias("bucket"),
    )
    gen1 = os.path.join(state, "v000001")
    df.write.partitionBy("bucket").parquet(gen1)
    commit(gen1)

    stale = committed_versions(state)
    winner = next_version_dir(state)
    df.filter(F.col("k") < 100).write.partitionBy("bucket").parquet(winner)
    commit(winner)
    winner_files = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(winner)
        for f in fs
    )

    # the loser compactor listed versions BEFORE the winner committed
    monkeypatch.setattr(ing, "_state_versions", lambda d: stale)
    assert ing.compact_state(spark, state) is False

    monkeypatch.undo()
    assert committed_versions(state) == ["v000001", "v000002"]
    assert sorted(
        os.path.join(r, f) for r, _, fs in os.walk(winner) for f in fs
    ) == winner_files  # winner byte-layout untouched
    assert not [d for d in os.listdir(state) if ".compact-" in d]  # no litter


def test_stream_stream_attribution_equals_batch(spark, sf_dir, tmp_path):
    from pasardassist_spark.streaming.attribution import (
        attribution_batch,
        attribution_stream,
    )

    ev = load(spark, sf_dir, "events")
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
    rows = raw.orderBy("ts", "event_id").collect()
    src = _stage_chunks(spark, tmp_path, rows, raw.schema, 2, tag="attr")

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    out = attribution_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    want_all = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in attribution_batch(ev).collect()
    }
    # append-mode stream emits once both watermarks pass; pairs near the end
    # of the log may still be buffered when the stream stops — the emitted
    # set must be a subset of batch and cover everything watermark-closed
    assert got <= want_all
    assert len(got) >= len(want_all) * 0.5, (len(got), len(want_all))
    # no wrong pairs, no duplicates
    assert len(got) == spark.sql("SELECT * FROM attrib").count()


def test_publish_staged_cas(tmp_path):
    """The rename-CAS publish: never overwrites a committed generation
    (retries into the next slot), clears crashed uncommitted garbage, and
    the staged marker makes publication atomic."""
    import os

    from pasardassist_spark.streaming.generations import (
        COMMIT_MARKER,
        commit,
        committed_versions,
        publish_staged,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)

    def stage(name, payload):
        d = str(tmp_path / name)
        os.makedirs(d)
        with open(os.path.join(d, "data.txt"), "w") as f:
            f.write(payload)
        commit(d)
        return d

    # first publish lands in v000001
    publish_staged(stage("s1", "gen1"), state)
    assert committed_versions(state) == ["v000001"]
    # a competing committed generation takes v000002; publish must NOT
    # overwrite it and must land in v000003
    os.makedirs(os.path.join(state, "v000002"))
    with open(os.path.join(state, "v000002", "data.txt"), "w") as f:
        f.write("compacted")
    commit(os.path.join(state, "v000002"))
    publish_staged(stage("s2", "gen3"), state)
    assert committed_versions(state) == ["v000001", "v000002", "v000003"]
    with open(os.path.join(state, "v000002", "data.txt")) as f:
        assert f.read() == "compacted"  # the committed slot survived intact
    # crashed UNcommitted garbage in the next slot is cleared and replaced
    os.makedirs(os.path.join(state, "v000004"))
    with open(os.path.join(state, "v000004", "junk"), "w") as f:
        f.write("partial")
    publish_staged(stage("s3", "gen4"), state)
    assert committed_versions(state)[-1] == "v000004"
    assert not os.path.exists(os.path.join(state, "v000004", "junk"))
    assert os.path.exists(os.path.join(state, "v000004", COMMIT_MARKER))


def test_delta_sink_gating():
    """Without delta-spark: auto falls back to generations, explicit delta
    raises a clear error, and the MERGE ordering condition is the exact
    lexicographic expansion of the argmax tuple."""
    import pytest

    from pasardassist_spark.streaming.delta_sink import (
        _lex_greater,
        delta_available,
    )

    assert _lex_greater("s", "t", ["ts"]) == "(s.ts > t.ts)"
    assert _lex_greater("s", "t", ["ts", "event_id"]) == (
        "(s.ts > t.ts) OR (s.ts = t.ts AND s.event_id > t.event_id)"
    )
    if delta_available():
        pytest.skip("delta installed: gating negative-path not applicable")
    from pasardassist_spark.streaming.delta_sink import merge_latest_into_delta

    with pytest.raises(RuntimeError, match="delta-spark is not installed"):
        merge_latest_into_delta(None, "/tmp/nowhere", ["k"])
    with pytest.raises(ValueError, match="unknown backend"):
        from pasardassist_spark.streaming.ingest import maintain_latest_state

        maintain_latest_state(None, "", "", backend="bogus")


@pytest.mark.skipif(
    not __import__(
        "pasardassist_spark.streaming.delta_sink", fromlist=["delta_available"]
    ).delta_available(),
    reason="delta-spark not installed (container); runs on a Delta cluster",
)
def test_delta_merge_replay_idempotent(spark, tmp_path):
    """Delta path: same byte-identity/replay contract as the generational
    store — merging a batch twice is a no-op, later ordering tuples win."""
    from pasardassist_spark.streaming.delta_sink import merge_latest_into_delta

    path = str(tmp_path / "delta_state")
    b1 = spark.createDataFrame(
        [("u1", 100, 1, "a"), ("u2", 100, 1, "b")],
        "user_id string, ts long, event_id long, v string",
    )
    merge_latest_into_delta(b1, path, ["user_id"])
    merge_latest_into_delta(b1, path, ["user_id"])  # replay: no-op
    b2 = spark.createDataFrame(
        [("u1", 100, 2, "c"), ("u3", 50, 1, "d")],
        "user_id string, ts long, event_id long, v string",
    )
    merge_latest_into_delta(b2, path, ["user_id"])
    got = {r.user_id: r.v for r in spark.read.format("delta").load(path).collect()}
    assert got == {"u1": "c", "u2": "b", "u3": "d"}


def test_streaming_dedup_replay_equals_distinct(spark, sf_dir, tmp_path):
    """Exactly-once-by-key admission: every chunk delivered TWICE (the
    at-least-once worst case) must yield exactly the batch DISTINCT by
    event_id — and state must not require unbounded growth to do it
    (dropDuplicatesWithinWatermark, state bounded by the watermark)."""
    from pasardassist_spark.streaming import read_event_stream, streaming_dedup

    ev = load(spark, sf_dir, "events")
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
    rows = raw.orderBy("ts", "event_id").collect()
    doubled = []
    k = len(rows) // 3 + 1
    for i in range(3):
        part = rows[i * k : (i + 1) * k]
        doubled += part + part  # replay each chunk immediately
    src = _stage_chunks(spark, tmp_path, doubled, raw.schema, 6, tag="dedup")

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        streaming_dedup(stream, ["event_id"], delay="30 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_sink")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM dedup_sink")
    assert got.count() == ev.count(), "duplicates admitted or rows lost"
    g = sorted(map(str, got.select(*sorted(got.columns)).collect()))
    w = sorted(
        map(
            str,
            ev.select(*sorted(got.columns)).collect(),
        )
    )
    assert g == w


def test_streaming_hop_rollup_equals_batch(spark, sf_dir, tmp_path, chunked_events):
    """The hopping-window rollup (queries/analytics.hop_window_rollup) runs
    unchanged as a watermarked stream and converges to the batch answer —
    same groupBy(window(..., '7 days', '1 day')) expression on both paths."""
    from pasardassist_spark.queries.analytics import hop_window_rollup

    stream = read_event_stream(spark, chunked_events, max_files_per_trigger=2)
    agg = (
        stream.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n_events", "total_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hop_rollup")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (str(r.ws), r.event_type, r.n_events, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM hop_rollup").collect()
    }
    want = {
        (str(r.ws), r.event_type, r.n_events, round(r.total_value, 6))
        for r in hop_window_rollup(spark, sf_dir).collect()
    }
    assert got == want


def test_incremental_collection_stats_equals_batch(spark, sf_dir, tmp_path):
    """VERDICT r5 directive #3: the streaming-maintained collection stats
    (foreachBatch partial-fold MERGE into the generational store) must
    equal the batch A11 query after replaying the lineitem log in FOUR
    micro-batches — so at least three merges fold new partials into
    existing state, exercising the incremental path, not just the first
    write."""
    import os

    from pasardassist_spark.queries.aggregates import a11_collection_stats
    from pasardassist_spark.streaming import start_epochs
    from pasardassist_spark.streaming.stats import (
        apply_stats_batch,
        collection_stats_from_state,
    )

    li = load(spark, sf_dir, "lineitem")
    rows = li.collect()
    src = str(tmp_path / "li_chunks")
    os.makedirs(src)
    chunk = len(rows) // 4 + 1
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, li.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(tmp_path / f"stage{i}"))
    idx = 0
    for i in range(4):
        stage = tmp_path / f"stage{i}"
        if stage.exists():
            for f in os.listdir(stage):
                if f.endswith(".parquet"):
                    os.rename(str(stage / f), os.path.join(src, f"part{idx}.parquet"))
                    idx += 1
    assert idx == 4

    stream = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_stats_batch, state_dir=str(tmp_path / "state"),
        orders=load(spark, sf_dir, "orders"),
    ))
    q.processAllAvailable()
    q.stop()
    # >1 generation committed => the merge path really ran incrementally
    from pasardassist_spark.streaming.generations import committed_versions

    assert len(committed_versions(str(tmp_path / "state"))) >= 2

    got = collection_stats_from_state(
        spark, str(tmp_path / "state"), load(spark, sf_dir, "supplier")
    )
    want = a11_collection_stats(spark, sf_dir)
    g = sorted(map(str, got.select(*sorted(got.columns)).collect()))
    w = sorted(map(str, want.select(*sorted(want.columns)).collect()))
    assert g == w


def test_admitted_sink_exactly_once_under_retry(spark, tmp_path):
    """VERDICT r5 directive #5: a foreachBatch retry (same epoch_id, same
    batch — Spark's retry contract) must NOT double-append to the admitted
    log nor park the batch's unregistered events twice; a crashed
    pre-commit attempt (slot dir without marker) must be invisible to
    readers and replaced by the retry."""
    import os

    from pasardassist_spark.streaming import (
        admitted_events,
        process_collection_batch,
        register_collection,
    )
    from pasardassist_spark.streaming.generations import COMMIT_MARKER, read_state

    control = str(tmp_path / "control")
    out = str(tmp_path / "out")
    pending = str(tmp_path / "pending")
    register_collection(spark, control, "sale")

    batch = spark.createDataFrame(
        [(1, "sale", 1.0), (2, "bid", 2.0), (3, "sale", 3.0)],
        "event_id long, event_type string, value double",
    )

    # simulate a crashed FIRST attempt: slot exists, no commit marker
    os.makedirs(os.path.join(out, "e000000007"))
    with open(os.path.join(out, "e000000007", "junk.parquet"), "w") as f:
        f.write("garbage")
    assert admitted_events(spark, out) is None  # uncommitted => invisible

    # retry of epoch 7, then a SECOND retry of the same epoch
    process_collection_batch(batch, 7, control, out, pending)
    process_collection_batch(batch, 7, control, out, pending)

    got = admitted_events(spark, out)
    assert sorted(r.event_id for r in got.collect()) == [1, 3]  # once each
    # the replay does not park the unregistered event a second time
    parked = read_state(spark, pending)
    assert sorted(r.event_id for r in parked.collect()) == [2]
    # exactly one committed slot for the epoch; the junk is gone
    slot = os.path.join(out, "e000000007")
    assert os.path.exists(os.path.join(slot, COMMIT_MARKER))
    assert not os.path.exists(os.path.join(slot, "junk.parquet"))

    # a LATER epoch appends its own slot without touching epoch 7
    batch2 = spark.createDataFrame(
        [(9, "sale", 9.0)], "event_id long, event_type string, value double"
    )
    process_collection_batch(batch2, 8, control, out, pending)
    got2 = admitted_events(spark, out)
    assert sorted(r.event_id for r in got2.collect()) == [1, 3, 9]

    # registering the parked collection admits its event exactly once
    register_collection(spark, control, "bid")
    process_collection_batch(batch2.limit(0), 9, control, out, pending)
    got3 = admitted_events(spark, out)
    assert sorted(r.event_id for r in got3.collect()) == [1, 2, 3, 9]


def test_epoch_log_compaction_preserves_reader(spark, tmp_path):
    """Folding old epoch slots into one consolidated slot must not change
    what admitted_events returns — before, after, across a simulated
    crashed deletion, and after a re-compaction."""
    import json
    import os
    import shutil

    from pasardassist_spark.streaming.generations import (
        COMPACT_MANIFEST,
        admitted_events,
        compact_epoch_log,
    )
    from pasardassist_spark.streaming.generations import COMMIT_MARKER

    out = str(tmp_path / "log")
    os.makedirs(out)

    def slot(epoch, vals):
        d = os.path.join(out, f"e{epoch:09d}")
        spark.createDataFrame([(epoch, v) for v in vals], "epoch long, v long").coalesce(
            1
        ).write.parquet(d)
        open(os.path.join(d, COMMIT_MARKER), "w").close()

    for ep in range(6):
        slot(ep, range(ep * 10, ep * 10 + 3))
    before = sorted(map(tuple, admitted_events(spark, out).collect()))

    assert compact_epoch_log(spark, out, keep_last=2)
    after = sorted(map(tuple, admitted_events(spark, out).collect()))
    assert after == before
    names = sorted(os.listdir(out))
    assert [n for n in names if n.startswith("c")] == ["c000000000-000000003"]
    assert [n for n in names if n.startswith("e")] == ["e000000004", "e000000005"]

    # crashed deletion: a replaced slot resurfaces on disk — readers must
    # still ignore it (the committed manifest wins)
    slot_dir = os.path.join(out, "e000000001")
    slot(1, range(10, 13))
    assert sorted(map(tuple, admitted_events(spark, out).collect())) == before
    mf = json.load(
        open(os.path.join(out, "c000000000-000000003", COMPACT_MANIFEST))
    )
    assert "e000000001" in mf["replaces"]

    # re-compaction: new epochs land; folding the c-slot + old e-slots
    # keeps the reader identical and GCs the crashed-deletion leftover
    for ep in (6, 7, 8):
        slot(ep, range(ep * 10, ep * 10 + 3))
    grown = sorted(map(tuple, admitted_events(spark, out).collect()))
    assert compact_epoch_log(spark, out, keep_last=2)
    assert sorted(map(tuple, admitted_events(spark, out).collect())) == grown
    assert not os.path.isdir(slot_dir), "crashed-deletion leftover not GCed"
    names = sorted(os.listdir(out))
    assert [n for n in names if n.startswith("c")] == ["c000000000-000000006"]
    # transitive closure: the new manifest still names the oldest slots
    mf2 = json.load(
        open(os.path.join(out, "c000000000-000000006", COMPACT_MANIFEST))
    )
    assert {"e000000000", "e000000001", "c000000000-000000003"} <= set(
        mf2["replaces"]
    )
    # nothing left to compact until more epochs land
    assert not compact_epoch_log(spark, out, keep_last=2)
