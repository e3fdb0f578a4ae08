"""Streaming image-dedup gate: chunked processing == sequential replay of
the same policy (independent Python reference), the foreachBatch entry
lands the same admitted set and band index as the batch function, replayed
epochs are no-ops, and the gate actually rejects cross-container and near
duplicates."""

from __future__ import annotations

import os
from functools import partial

import pytest

from pasardassist_spark.operators.multimodal import (
    attach_image_payload,
    dhash_raster,
    synth_raster,
)
from pasardassist_spark.operators import imagecodec as IC
from pasardassist_spark.streaming.generations import admitted_events, start_epochs
from pasardassist_spark.streaming.imagegate import apply_image_batch

SEED_MOD = 23  # dense planted duplicates over 100 docs
MARK = (5, 2)  # near-dup corner marks


def _corpus(spark, n=100):
    df = spark.range(0, n).withColumnRenamed("id", "doc_id")
    return attach_image_payload(df, seed_mod=SEED_MOD, mark_corner=MARK).select(
        "doc_id", "payload"
    )


def _reference_hashes(n):
    """Independent recomputation of every doc's dHash (raster arithmetic,
    no container round-trip — the codecs are covered elsewhere)."""
    out = {}
    for doc_id in range(n):
        w, h, px = synth_raster(doc_id % SEED_MOD)
        if doc_id % MARK[0] == MARK[1]:
            px = b"\xff\xff\xff" + px[3:]
        out[doc_id] = dhash_raster(w, h, 3, px)
    return out


def _dist(a, b):
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def _sequential_reference(n, chunks, max_dist=3):
    """The gate policy replayed sequentially in plain Python: per chunk,
    reject on (a) any ADMITTED witness from earlier chunks within
    max_dist, (b) any lower-id doc in the SAME chunk within max_dist
    (pairwise — the documented conservative policy)."""
    hashes = _reference_hashes(n)
    admitted: list[int] = []
    for chunk in chunks:
        chunk = sorted(chunk)
        for i, d in enumerate(chunk):
            if any(_dist(hashes[d], hashes[a]) <= max_dist for a in admitted):
                continue
            # conservative same-chunk policy (matches the gate): a doc
            # loses to ANY lower-id chunk-mate within distance, even one
            # that itself lost — chunk[:i], not the admitted subset
            if any(_dist(hashes[d], hashes[e]) <= max_dist for e in chunk[:i]):
                continue
            admitted.append(d)
    return set(admitted)


def test_chunked_equals_sequential_replay(spark, tmp_path):
    n = 100
    corpus = _corpus(spark, n).collect()
    chunks = [
        [r.doc_id for r in corpus if r.doc_id % 4 == k] for k in range(4)
    ]
    by_id = {r.doc_id: r for r in corpus}
    state, adm = str(tmp_path / "state"), str(tmp_path / "adm")
    for ep, chunk in enumerate(chunks):
        batch = spark.createDataFrame(
            [(d, bytearray(by_id[d].payload)) for d in chunk],
            "doc_id long, payload binary",
        )
        apply_image_batch(batch, ep, state, adm)
    got = {r.doc_id for r in admitted_events(spark, adm).collect()}
    want = _sequential_reference(n, chunks)
    assert got == want
    assert 0 < len(got) < n, "gate admitted everything or nothing"


def test_stream_gate_equals_batch_function(spark, tmp_path):
    from pasardassist_spark.streaming.ingest import read_state

    n = 60
    corpus = _corpus(spark, n)
    chunks = [corpus.filter(corpus.doc_id % 3 == k) for k in range(3)]
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(chunks):
        stage = tmp_path / f"s{i}"
        chunk.coalesce(1).write.parquet(str(stage))
        (pq,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        dst = str(src / f"p{i}.parquet")
        os.rename(str(stage / pq), dst)
        os.utime(dst, (1_700_000_000 + i * 1000,) * 2)  # batch order = file order

    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_image_batch,
        state_dir=str(tmp_path / "state"),
        admitted_dir=str(tmp_path / "adm"),
    ))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    for ep, chunk in enumerate(chunks):
        apply_image_batch(chunk, ep, str(tmp_path / "bstate"), str(tmp_path / "badm"))

    def admitted(d):
        return sorted(r.doc_id for r in admitted_events(spark, str(tmp_path / d)).collect())

    def bands(d):
        st = read_state(spark, os.path.join(str(tmp_path / d), "bands"))
        return sorted(map(tuple, st.select("band", "val", "dhash_hi", "dhash_lo").collect()))

    assert admitted("adm") == admitted("badm")
    assert 0 < len(admitted("adm")) < n
    assert bands("state") == bands("bstate")


def test_replayed_epoch_is_noop(spark, tmp_path):
    from pasardassist_spark.streaming.ingest import read_state

    corpus = _corpus(spark, 40)
    state, adm = str(tmp_path / "state"), str(tmp_path / "adm")
    apply_image_batch(corpus, 0, state, adm)
    first = {r.doc_id for r in admitted_events(spark, adm).collect()}
    b1 = read_state(spark, os.path.join(state, "bands")).count()

    apply_image_batch(corpus, 0, state, adm)
    assert {r.doc_id for r in admitted_events(spark, adm).collect()} == first
    assert read_state(spark, os.path.join(state, "bands")).count() == b1


def test_cross_container_duplicate_rejected(spark, tmp_path):
    """The same raster arriving later as a DIFFERENT container (PNG after
    PPM) is a perceptual dup: byte-level dedup would admit it, the gate
    must not."""
    w, h, px = synth_raster(7)
    r = IC.Raster(w, h, 3, px)
    state, adm = str(tmp_path / "state"), str(tmp_path / "adm")
    b0 = spark.createDataFrame(
        [(1, bytearray(IC.encode_ppm(r)))], "doc_id long, payload binary"
    )
    apply_image_batch(b0, 0, state, adm)
    b1 = spark.createDataFrame(
        [
            (2, bytearray(IC.encode_png(r))),          # same pixels, new container
            (3, bytearray(IC.encode_bmp(r))),          # same pixels again
            (4, bytearray(IC.encode_ppm(
                IC.Raster(w, h, 3, bytes((v + 101) % 256 for v in px))
            ))),                                        # genuinely different
        ],
        "doc_id long, payload binary",
    )
    apply_image_batch(b1, 1, state, adm)
    got = {r.doc_id for r in admitted_events(spark, adm).collect()}
    assert 2 not in got and 3 not in got
    assert 1 in got and 4 in got
