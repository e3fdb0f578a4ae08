"""Streaming dedup-at-ingest gate: chunked streaming must admit exactly
the docs a sequential replay of the same policy admits, and a replayed
epoch must change nothing (exactly-once admitted set + idempotent index
merges)."""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import functions as F

from pasardassist_spark.operators.dedup import (
    content_hash,
    lsh_band_signatures,
    minhash_signatures,
    shingles,
)
from pasardassist_spark.tables import load


def _chunk_evidence(spark, chunk_df, text_col, id_col):
    """(per-doc digest, per-doc band-sig set) via the SAME operators the
    gate uses — the equivalence under test is the maintenance/gating
    logic, not MinHash itself (pinned elsewhere)."""
    digests = {
        r[id_col]: r["_h"]
        for r in chunk_df.withColumn("_h", content_hash(F.col(text_col))).collect()
    }
    sig_rows = lsh_band_signatures(
        minhash_signatures(shingles(chunk_df, text_col, id_col), id_col), id_col
    ).collect()
    sigs: dict[int, set] = {i: set() for i in digests}
    for r in sig_rows:
        sigs[r[id_col]].add((r["band"], r["sig"]))
    return digests, sigs


def _sequential_reference(spark, chunks, text_col, id_col):
    H: set = set()
    S: set = set()
    admitted: list = []
    for chunk in chunks:
        digests, sigs = _chunk_evidence(spark, chunk, text_col, id_col)
        for i in sorted(digests):
            in_chunk_loss = any(
                digests[j] == digests[i] or (sigs[j] & sigs[i])
                for j in digests
                if j < i
            )
            if digests[i] in H or (sigs[i] & S) or in_chunk_loss:
                continue
            admitted.append(i)
            H.add(digests[i])
            S |= sigs[i]
    return set(admitted)


def test_streaming_gate_equals_sequential_replay(spark, sf_dir, tmp_path):
    from pasardassist_spark.streaming.dedupindex import apply_dedup_batch
    from pasardassist_spark.streaming.generations import admitted_events, start_epochs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.orderBy("doc_id").collect()
    n_chunks = 3
    sz = len(rows) // n_chunks + 1
    chunks = [
        spark.createDataFrame(rows[i * sz : (i + 1) * sz], docs.schema)
        for i in range(n_chunks)
        if rows[i * sz : (i + 1) * sz]
    ]

    src = str(tmp_path / "chunks")
    os.makedirs(src)
    for i, c in enumerate(chunks):
        stage = tmp_path / f"s{i}"
        c.coalesce(1).write.parquet(str(stage))
        (pq,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(str(stage / pq), os.path.join(src, f"p{i}.parquet"))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_dedup_batch,
        state_dir=str(tmp_path / "state"),
        admitted_dir=str(tmp_path / "admitted"),
    ))
    q.processAllAvailable()
    q.stop()

    got = {
        r.doc_id
        for r in admitted_events(spark, str(tmp_path / "admitted")).collect()
    }
    want = _sequential_reference(spark, chunks, "text", "doc_id")
    assert got == want
    assert 0 < len(got) < len(rows), "gate admitted everything or nothing"


def test_replayed_epoch_is_noop(spark, sf_dir, tmp_path):
    from pasardassist_spark.streaming.dedupindex import apply_dedup_batch
    from pasardassist_spark.streaming.generations import admitted_events
    from pasardassist_spark.streaming.ingest import read_state

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    state = str(tmp_path / "state")
    adm = str(tmp_path / "admitted")

    apply_dedup_batch(docs, 0, state, adm, "text", "doc_id")
    first = {r.doc_id for r in admitted_events(spark, adm).collect()}
    h1 = read_state(spark, os.path.join(state, "hashes")).count()
    s1 = read_state(spark, os.path.join(state, "sigs")).count()

    # replay of epoch 0: same admitted set, index unchanged — even though
    # the index now already contains this batch's own evidence
    apply_dedup_batch(docs, 0, state, adm, "text", "doc_id")
    again = {r.doc_id for r in admitted_events(spark, adm).collect()}
    assert again == first
    assert read_state(spark, os.path.join(state, "hashes")).count() == h1
    assert read_state(spark, os.path.join(state, "sigs")).count() == s1

    # the next epoch still applies on top
    more = load(spark, sf_dir, "documents").select("doc_id", "text").limit(80)
    apply_dedup_batch(more, 1, state, adm, "text", "doc_id")
    final = {r.doc_id for r in admitted_events(spark, adm).collect()}
    assert first <= final
    # every doc of epoch 1 that reuses epoch-0 content is gated out
    assert len(final) < 80 + len(first)
