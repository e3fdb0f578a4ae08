"""Streaming document-ingest gate — the round-11 document shelf composed
into a standing ingest artifact (the imagegate/dedupindex contract):

    raw mixed-format payloads → extract → quality gate → dedup-at-ingest

- EXTRACT: each micro-batch's payloads are sniffed and routed once
  (operators/docsniff.py:extract_document — the same dispatcher the
  batch family certifies hash-green), one ``tables.map_rows`` map
  pass.  Payloads no parser accepts go to ``<admitted_dir>/_dead``
  with their error string instead of poisoning the epoch — the
  dead-letter discipline of the retry queue (queries/enrichment.py).
- QUALITY: the Gopher rule gate (Rae et al. 2021 Table A1 — the same
  constants and expression trees as curate_gopher_rules) filters
  row-locally BEFORE any shuffle; rejected docs add no dedup evidence.
- DEDUP-AT-INGEST: the surviving clean text is handed to the standing
  text gate (streaming/dedupindex.py:apply_dedup_batch) — exact digests
  + MinHash band signatures against the maintained generational index,
  intra-batch first-wins, epoch-keyed CAS slots for exactly-once
  admitted appends, idempotent distinct-union index merges.

The admitted artifact is (doc_id, fmt, text) — extraction happens ONCE
at ingest, and the corpus downstream trainers read is already clean,
deduplicated TEXT, which is the production crawl-ingest shape.

Equivalence pytest (tests/test_docgate.py): streaming the payload
corpus in chunks admits exactly what a sequential replay of the same
extract → gate → dedup policy admits, and replayed epochs are no-ops.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F

from pasardassist_spark.streaming.dedupindex import apply_dedup_batch
from pasardassist_spark.streaming.generations import committed_epoch
from pasardassist_spark.tables import local_frame, map_rows

_EXTRACT_SCHEMA = "doc_id long, fmt string, text string"
_COMBINED_SCHEMA = "doc_id long, fmt string, text string, error string"


def extract_batch(batch_df: DataFrame) -> DataFrame:
    """Sniff + route + extract + normalize each (doc_id, payload) row in
    ONE map pass; unparseable payloads carry the raising error's text in
    ``error`` (null for successes).  The caller localCheckpoints the
    result so the parse runs once however many consumers split it."""
    from pasardassist_spark.operators.docsniff import extract_document

    def _both(doc_id, payload):
        try:
            fmt, text = extract_document(bytes(payload))
            err = None
        except (ValueError, NotImplementedError) as exc:
            fmt, text = None, None
            err = f"{type(exc).__name__}: {exc}"
        yield doc_id, fmt, text, err

    return map_rows(batch_df.select("doc_id", "payload"), _both, _COMBINED_SCHEMA)


def gopher_keep(text: Column) -> Column:
    """The curate_gopher_rules keep-condition as a reusable Column —
    identical constants and expression trees (queries/curation.py), so
    the gate and the batch query can never disagree on 'clean'."""
    from pasardassist_spark.operators import text as X
    from pasardassist_spark.queries.curation import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_RATIO,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPS,
    )

    toks = X.tokens(text)
    n_words = F.size(toks).cast("long")
    nospace = F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
    mean_wl = nospace.cast("double") / F.size(toks)
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#")))
    n_ell = (F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
    symbol_ratio = (n_hash.cast("double") + n_ell) / F.size(toks)
    alpha_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / F.size(toks)
    )
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*GOPHER_STOPS))
    ).cast("long")
    return (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_ratio >= GOPHER_MIN_ALPHA_RATIO)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
    )


def apply_doc_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    admitted_dir: str,
    keep_generations: int = 2,
) -> None:
    """One epoch: extract → dead-letter → quality gate → hand the clean
    text to the standing dedup gate (which owns the CAS slot and the
    index merges).  ``batch_df`` is (doc_id, payload) rows."""
    spark = batch_df.sparkSession

    if committed_epoch(admitted_dir, epoch_id) is not None:
        # committed replay: the slot already holds the extracted text —
        # skip extraction entirely and let the dedup gate re-run its
        # idempotent index merges from the slot
        apply_dedup_batch(
            local_frame(spark, [], _EXTRACT_SCHEMA),
            epoch_id, state_dir, admitted_dir, "text", "doc_id",
            keep_generations,
        )
        return

    combined = extract_batch(batch_df).localCheckpoint()

    dead_pdf = (
        combined.filter(F.col("error").isNotNull())
        .select("doc_id", "error")
        .toPandas()
    )
    if len(dead_pdf):
        dead_dir = os.path.join(admitted_dir, "_dead")
        os.makedirs(dead_dir, exist_ok=True)
        dead_pdf.to_parquet(
            os.path.join(dead_dir, f"e{epoch_id:09d}.parquet"), index=False
        )

    extracted = combined.filter(F.col("error").isNull()).drop("error")
    clean = extracted.filter(gopher_keep(F.col("text")))
    apply_dedup_batch(
        clean, epoch_id, state_dir, admitted_dir, "text", "doc_id",
        keep_generations,
    )
