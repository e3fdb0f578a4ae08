"""Streaming dedup-at-ingest — incremental_dedup's streaming twin, with
the "standing signature index" made a real maintained artifact.

The batch operator (operators/dedup.py:incremental_dedup) documents its
scale story as "the snapshot digests/signatures are a standing index you
append to per batch" — but recomputes them from snapshot TEXT per call.
This module maintains that index in the generational state store and
gates a live document stream on it, which is the production corpus-ingest
shape (crawl in → admit only novel docs → training corpus):

- state ``<dir>/hashes`` — DISTINCT content digests of every ADMITTED
  doc, keyed by digest; state ``<dir>/sigs`` — DISTINCT (band, minhash
  band-signature) pairs of every admitted doc, keyed by (band, sig).
  Both merges are distinct-unions: idempotent, so foreachBatch replays
  converge without epoch bookkeeping.
- per micro-batch: digests + MinHash band signatures compute ONCE over
  the batch; a digest equi-join flags exact dups, a band-sig semi-join
  flags near dups (LSH candidate semantics — identical constants to the
  batch family, so the two can never disagree on what "near" means);
  cost is O(batch + touched index buckets), never a corpus rescan.
- intra-batch policy: a doc is ALSO rejected when any LOWER-id doc of
  the same micro-batch shares its digest or a band signature (min-id
  per group — deterministic and distributed; deliberately conservative
  on A~B~C chains where B also loses to A: C is dropped even though its
  only witness B was itself rejected).
- admitted docs append to ``admitted_dir`` through the epoch-keyed CAS
  slots of streaming/generations.py — exactly-once under retries — and ONLY
  admitted docs' digests/signatures enter the index (rejected dups add
  no new evidence; the index stays O(distinct admitted content)).

Equivalence pytest: streaming the corpus in chunks admits exactly the
docs a sequential per-chunk replay of the same policy admits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window as W, functions as F

from pasardassist_spark.operators.dedup import (
    content_hash,
    lsh_band_signatures,
    minhash_signatures,
    shingles,
)
from pasardassist_spark.streaming.generations import committed_epoch, publish_epoch
from pasardassist_spark.streaming.ingest import (
    merge_into_bucketed_state,
    read_state,
)


def _merge_admitted_evidence(
    admitted: DataFrame,
    id_col: str,
    hashes_dir: str,
    sigs_dir: str,
    text_col: str,
    keep_generations: int,
) -> None:
    """Idempotent index merges from an admitted-docs frame (replay path:
    signatures recompute from the committed slot's text — same values the
    first attempt merged)."""
    adm_sigs = lsh_band_signatures(
        minhash_signatures(shingles(admitted, text_col, id_col), id_col),
        id_col,
    )
    merge_into_bucketed_state(
        admitted.select(F.col("_h").alias("content_hash")).distinct(),
        hashes_dir,
        ("content_hash",),
        DataFrame.distinct,
        keep_generations,
    )
    merge_into_bucketed_state(
        adm_sigs.select("band", "sig").distinct(),
        sigs_dir,
        ("band", "sig"),
        DataFrame.distinct,
        keep_generations,
    )


def apply_dedup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    admitted_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_generations: int = 2,
) -> None:
    """One epoch's gate + index merge (see module docstring)."""
    spark = batch_df.sparkSession
    hashes_dir = os.path.join(state_dir, "hashes")
    sigs_dir = os.path.join(state_dir, "sigs")

    slot = committed_epoch(admitted_dir, epoch_id)
    if slot is not None:
        # Replay of a committed epoch: skip the whole gate (its decision
        # would be recomputed against an index possibly already containing
        # this batch's own evidence — contaminated AND wasted work). The
        # slot IS the decision; only the idempotent index merges re-run.
        admitted = spark.read.parquet(slot).withColumn(
            "_h", content_hash(F.col(text_col))
        ).localCheckpoint()
        _merge_admitted_evidence(
            admitted, id_col, hashes_dir, sigs_dir, text_col, keep_generations
        )
        return

    # Pin the batch evidence ONCE (eager): the gate decision, the admitted
    # write, and both index merges all consume these frames — without the
    # checkpoint each consumer would re-run the shingle/minhash pipeline,
    # and a nondeterministic input frame (e.g. an unordered LIMIT in a
    # batch-mode caller) could even diverge between evaluations.
    docs = batch_df.withColumn("_h", content_hash(F.col(text_col))).localCheckpoint()
    sigs = lsh_band_signatures(
        minhash_signatures(shingles(docs, text_col, id_col), id_col),
        id_col,
    ).localCheckpoint()

    hit_h = read_state(spark, hashes_dir)
    hit_s = read_state(spark, sigs_dir)
    dup_exact_state = (
        docs.join(
            hit_h.withColumnRenamed("content_hash", "_h"), "_h", "left_semi"
        ).select(id_col)
        if hit_h is not None
        else docs.limit(0).select(id_col)
    )
    dup_near_state = (
        sigs.join(hit_s, ["band", "sig"], "left_semi").select(id_col).distinct()
        if hit_s is not None
        else sigs.limit(0).select(id_col)
    )

    # intra-batch first-wins: reject when a LOWER id in this batch shares
    # the digest (window on digest) or a band signature (min-id per group)
    lose_h = (
        docs.withColumn(
            "_min", F.min(id_col).over(W.partitionBy("_h"))
        )
        .filter(F.col(id_col) > F.col("_min"))
        .select(id_col)
    )
    lose_s = (
        sigs.withColumn(
            "_min", F.min(id_col).over(W.partitionBy("band", "sig"))
        )
        .filter(F.col(id_col) > F.col("_min"))
        .select(id_col)
        .distinct()
    )

    rejected = (
        dup_exact_state.unionByName(dup_near_state)
        .unionByName(lose_h)
        .unionByName(lose_s)
        .distinct()
    )
    admitted = docs.join(rejected, id_col, "left_anti")

    # exactly-once admitted append: epoch-keyed CAS slot, published BEFORE
    # the index merges. On a replay the slot already exists and the gate
    # decision is NOT recomputed (a crashed first attempt may have merged
    # part of this batch's own evidence into the index, which would flag
    # the whole replayed batch as dups) — the committed slot IS the
    # decision, and the merges below re-derive their input from it.
    if not publish_epoch(admitted.drop("_h"), admitted_dir, epoch_id):
        # a concurrent attempt of this epoch won: its slot is the decision
        admitted = spark.read.parquet(
            committed_epoch(admitted_dir, epoch_id)
        ).withColumn("_h", content_hash(F.col(text_col)))

    # index grows by the ADMITTED evidence only. Distinct-union merges are
    # idempotent, so running them on every attempt (first run AND replays)
    # closes the crash window between publish and merge: whichever attempt
    # survives leaves the index complete.
    adm_ids = admitted.select(id_col)
    merge_into_bucketed_state(
        admitted.select(F.col("_h").alias("content_hash")).distinct(),
        hashes_dir,
        ("content_hash",),
        DataFrame.distinct,
        keep_generations,
    )
    merge_into_bucketed_state(
        sigs.join(adm_ids, id_col, "left_semi").select("band", "sig").distinct(),
        sigs_dir,
        ("band", "sig"),
        DataFrame.distinct,
        keep_generations,
    )
