"""Streaming document-ingest gate: extract → Gopher gate → dedup must
admit exactly what a sequential replay of the same policy admits;
replayed epochs are no-ops; bad payloads dead-letter instead of
poisoning the epoch."""

from __future__ import annotations

import os
from functools import partial

import pandas as pd
import pytest

from pyspark.sql import functions as F

from pasardassist_spark.operators.dedup import (
    content_hash,
    lsh_band_signatures,
    minhash_signatures,
    shingles,
)
from pasardassist_spark.operators.docsniff import extract_document
from pasardassist_spark.tables import load

FMTS = ["pdf", "docx", "epub", "markdown", "latex", "rtf", "xlsx", "pptx", "odt"]


def _encode(fmt: str, text: str) -> bytes:
    """Two word-boundary parts through the format's real writer."""
    words = [w for w in text.split() if w]
    mid = len(words) // 2
    parts = [" ".join(words[:mid]), " ".join(words[mid:])]
    parts = [p for p in parts if p] or [""]
    if fmt == "pdf":
        from pasardassist_spark.operators.pdftext import encode_pdf
        return encode_pdf(parts)
    if fmt == "docx":
        from pasardassist_spark.operators.docxtext import encode_docx
        return encode_docx(parts)
    if fmt == "epub":
        from pasardassist_spark.operators.epubtext import encode_epub
        return encode_epub(parts)
    if fmt == "markdown":
        from pasardassist_spark.operators.mdtext import encode_markdown
        p = encode_markdown(parts)
        return p.encode("utf-8") if isinstance(p, str) else p
    if fmt == "latex":
        from pasardassist_spark.operators.textext import encode_latex
        p = encode_latex(parts)
        return p.encode("utf-8") if isinstance(p, str) else p
    if fmt == "rtf":
        from pasardassist_spark.operators.rtftext import encode_rtf
        p = encode_rtf(parts)
        return p.encode("utf-8") if isinstance(p, str) else p
    if fmt == "xlsx":
        from pasardassist_spark.operators.xlsxtext import encode_xlsx
        return encode_xlsx(parts)
    if fmt == "pptx":
        from pasardassist_spark.operators.pptxtext import encode_pptx
        return encode_pptx(parts)
    from pasardassist_spark.operators.odttext import encode_odt
    return encode_odt(parts)


def _corpus(spark, sf_dir):
    """(doc_id, payload) rows + bookkeeping sets for assertions.  The
    base corpus uses only texts that PASS the Gopher gate (the synthetic
    table contains plenty of legitimately low-quality docs), so the
    planted dup/quality/dead outcomes are never vacuous."""
    from pasardassist_spark.streaming.docgate import gopher_keep

    texts = [
        r.text
        for r in load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(60)
        .filter(gopher_keep(F.col("text")))
        .orderBy("doc_id")
        .limit(12)
        .collect()
    ]
    assert len(texts) >= 8, "fixture drift: too few gopher-clean docs"
    rows: list[tuple[int, bytes]] = []
    nxt = 0

    def add(payload: bytes) -> int:
        nonlocal nxt
        rows.append((nxt, payload))
        nxt += 1
        return nxt - 1

    base_ids = [add(_encode(FMTS[i % len(FMTS)], t)) for i, t in enumerate(texts)]
    # exact dup of doc 0's TEXT in a DIFFERENT format (cross-format dedup)
    dup_exact = add(_encode("pptx", texts[0]))
    # near dup of doc 1: last word changed
    w = texts[1].split()
    near_text = " ".join(w[:-1] + ["changed"])
    dup_near = add(_encode("docx", near_text))
    # quality rejects: too short; symbol-heavy
    q_short = add(_encode("markdown", "way too short"))
    q_symbols = add(_encode("docx", " ".join(["###"] * 80)))
    # dead letters: binary junk and an unsupported-for-prose calendar
    from pasardassist_spark.operators.icstext import encode_ics

    dead_junk = add(b"\x00\xff\xfe utterly unrecognizable \x80\x81")
    dead_ics = add(
        encode_ics([("uid-1", 1700000000, "summary", "desc")]).encode("utf-8")
    )
    return rows, {
        "base": set(base_ids),
        "dup_exact": dup_exact,
        "dup_near": dup_near,
        "q_short": q_short,
        "q_symbols": q_symbols,
        "dead": {dead_junk, dead_ics},
    }


def _chunk_frames(spark, rows, n_chunks=3):
    sz = len(rows) // n_chunks + 1
    return [
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [r[0] for r in chunk],
                    "payload": [r[1] for r in chunk],
                }
            ),
            "doc_id long, payload binary",
        )
        for chunk in (rows[i * sz : (i + 1) * sz] for i in range(n_chunks))
        if chunk
    ]


def _sequential_reference(spark, chunks):
    """Extract (same dispatcher) → Gopher gate (same Column) → the
    dedupindex sequential-admit policy, chunk by chunk."""
    from pasardassist_spark.streaming.docgate import gopher_keep

    H: set = set()
    S: set = set()
    admitted: list[int] = []
    for chunk in chunks:
        recs = []
        for r in chunk.collect():
            try:
                _fmt, text = extract_document(bytes(r.payload))
            except (ValueError, NotImplementedError):
                continue
            recs.append((r.doc_id, text))
        if not recs:
            continue
        cdf = spark.createDataFrame(recs, "doc_id long, text string")
        cdf = cdf.filter(gopher_keep(F.col("text")))
        digests = {
            r.doc_id: r._h
            for r in cdf.withColumn("_h", content_hash(F.col("text"))).collect()
        }
        sig_rows = lsh_band_signatures(
            minhash_signatures(shingles(cdf, "text", "doc_id"), "doc_id"),
            "doc_id",
        ).collect()
        sigs: dict[int, set] = {i: set() for i in digests}
        for r in sig_rows:
            sigs[r.doc_id].add((r.band, r.sig))
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


def test_doc_gate_equals_sequential_replay(spark, sf_dir, tmp_path):
    from pasardassist_spark.streaming.docgate import apply_doc_batch
    from pasardassist_spark.streaming.generations import admitted_events, start_epochs

    rows, marks = _corpus(spark, sf_dir)
    chunks = _chunk_frames(spark, rows)

    src = str(tmp_path / "chunks")
    os.makedirs(src)
    for i, c in enumerate(chunks):
        stage = tmp_path / f"s{i}"
        c.coalesce(1).write.parquet(str(stage))
        (pq,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.rename(str(stage / pq), os.path.join(src, f"p{i}.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_doc_batch,
        state_dir=str(tmp_path / "state"),
        admitted_dir=str(tmp_path / "admitted"),
    ))
    q.processAllAvailable()
    q.stop()

    adm = admitted_events(spark, str(tmp_path / "admitted"))
    got_rows = {r.doc_id: r for r in adm.collect()}
    got = set(got_rows)
    want = _sequential_reference(spark, chunks)
    assert got == want

    # planted outcomes
    assert marks["dup_exact"] not in got
    assert marks["dup_near"] not in got
    assert marks["q_short"] not in got
    assert marks["q_symbols"] not in got
    assert not (marks["dead"] & got)
    # the base corpus is gopher-clean by construction, so everything but
    # incidental near-dup collisions among the synthetic texts admits
    assert len(got & marks["base"]) >= len(marks["base"]) - 3
    assert len(got & marks["base"]) >= 5
    # the admitted artifact is extracted TEXT with its format tag
    some = got_rows[min(got)]
    assert some.fmt in FMTS and isinstance(some.text, str) and some.text

    # dead letters recorded with error strings
    dead_dir = os.path.join(str(tmp_path / "admitted"), "_dead")
    dead = pd.concat(
        [pd.read_parquet(os.path.join(dead_dir, f)) for f in os.listdir(dead_dir)]
    )
    assert set(dead.doc_id) == marks["dead"]
    assert dead.error.str.len().gt(0).all()


def test_doc_gate_replayed_epoch_is_noop(spark, sf_dir, tmp_path):
    from pasardassist_spark.streaming.docgate import apply_doc_batch
    from pasardassist_spark.streaming.generations import admitted_events

    rows, _marks = _corpus(spark, sf_dir)
    chunks = _chunk_frames(spark, rows, n_chunks=2)
    state = str(tmp_path / "state")
    admitted = str(tmp_path / "admitted")

    apply_doc_batch(chunks[0], 0, state, admitted)
    first = {r.doc_id for r in admitted_events(spark, admitted).collect()}
    # replay epoch 0 (simulated foreachBatch retry) — decision unchanged
    apply_doc_batch(chunks[0], 0, state, admitted)
    again = {r.doc_id for r in admitted_events(spark, admitted).collect()}
    assert again == first

    apply_doc_batch(chunks[1], 1, state, admitted)
    both = {r.doc_id for r in admitted_events(spark, admitted).collect()}
    assert first <= both
    # replaying an OLD epoch after a newer one is also a no-op
    apply_doc_batch(chunks[0], 0, state, admitted)
    final = {r.doc_id for r in admitted_events(spark, admitted).collect()}
    assert final == both


def test_mbox_archive_through_doc_gate(spark, sf_dir, tmp_path):
    """The crawl-ingest composition end-to-end: an mboxrd archive written
    by the sink, re-read message-per-row, and streamed through the
    document gate — every clean distinct message body admits as
    fmt='email' extracted text."""
    import pandas as pd

    from pasardassist_spark.operators.emailtext import encode_email
    from pasardassist_spark.sources.mbox import read_mbox, write_mbox
    from pasardassist_spark.streaming.docgate import apply_doc_batch, gopher_keep
    from pasardassist_spark.streaming.generations import admitted_events

    texts = [
        r.text
        for r in load(spark, sf_dir, "documents")
        .orderBy("doc_id").limit(40)
        .filter(gopher_keep(F.col("text")))
        .limit(6).collect()
    ]
    assert len(texts) >= 4
    msgs = [encode_email(f"m{i}", 1700000000 + i, t, i)
            for i, t in enumerate(texts)]
    msgs.append(msgs[0])  # an exact duplicate message
    df = spark.createDataFrame(pd.DataFrame({"msg": msgs})).coalesce(1)
    archive = tmp_path / "archive"
    write_mbox(df, str(archive)).collect()

    back = read_mbox(spark, str(archive)).select(
        F.col("msg_no").cast("long").alias("doc_id"),
        F.col("raw").alias("payload"),
    )
    apply_doc_batch(back, 0, str(tmp_path / "state"), str(tmp_path / "adm"))
    adm = admitted_events(spark, str(tmp_path / "adm")).collect()
    assert all(r.fmt == "email" for r in adm)
    got = {" ".join(r.text.split()) for r in adm}
    want = {" ".join(t.split()) for t in texts}
    # every admitted body is a real source text, each at most once (the
    # planted exact duplicate is gated), and the bulk admits — synthetic
    # texts share vocabulary, so an occasional legitimate MinHash
    # near-dup loss between DISTINCT texts is allowed
    assert got <= want
    assert len(adm) == len(got)
    assert len(got) >= len(want) - 2


def test_all_rejected_first_epoch_then_normal_epoch(spark, sf_dir, tmp_path):
    """An epoch where EVERY payload dead-letters (or fails the gate)
    must leave the dedup state readable: the empty delta is a no-op
    merge, never an empty generation (which a later read_state could
    not re-read — the round-13 UNABLE_TO_INFER_SCHEMA regression)."""
    from pasardassist_spark.streaming.docgate import apply_doc_batch, gopher_keep
    from pasardassist_spark.streaming.generations import admitted_events

    state = str(tmp_path / "state")
    adm = str(tmp_path / "adm")
    dead_only = spark.createDataFrame(
        [(i, b"BEGIN:VCALENDAR\nEND:VCALENDAR\n") for i in range(5)],
        "doc_id long, payload binary",
    )
    apply_doc_batch(dead_only, 0, state, adm)
    # the dead letters landed; nothing admitted
    assert os.path.exists(os.path.join(adm, "_dead"))
    texts = [
        r.text
        for r in load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(60)
        .filter(gopher_keep(F.col("text")))
        .orderBy("doc_id")
        .limit(3)
        .collect()
    ]
    assert len(texts) == 3, "fixture drift: too few gopher-clean docs"
    from pasardassist_spark.operators.pdftext import encode_pdf

    ok = spark.createDataFrame(
        [(100 + i, encode_pdf([t], xref_stream=True))
         for i, t in enumerate(texts)],
        "doc_id long, payload binary",
    )
    apply_doc_batch(ok, 1, state, adm)  # must not raise
    got = admitted_events(spark, adm)
    assert got is not None and got.count() == 3
