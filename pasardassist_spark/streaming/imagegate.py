"""Streaming perceptual-dedup gate for image ingest — the multimodal twin
of the text gate (streaming/dedupindex.py), with the dHash band index as
the maintained artifact.

A 100 TB crawl does not re-run pairwise image dedup per snapshot: the
admitted corpus's dHash evidence is a STANDING index, and each arriving
micro-batch of decoded images is gated against it:

- state ``<dir>/bands`` — the 4x16-bit band decomposition of every
  ADMITTED image's 64-bit dHash: rows (band, val, dhash_hi, dhash_lo),
  keyed/bucketed by (band, val). The merge is a distinct-union —
  idempotent, so foreachBatch replays converge.
- per micro-batch: payloads decode ONCE (the real codecs —
  operators/imagecodec.py via dhash_images); a (band, val) equi-join
  pulls state candidates (pigeonhole: any image within Hamming distance
  <= 3 of an admitted one MUST collide on a band — identical constants
  to the batch family, so the two can never disagree on "near"), and the
  exact popcount filter runs only on collisions. Cost is O(batch +
  touched index buckets), never a corpus rescan.
- intra-batch policy mirrors the text gate: an image is ALSO rejected
  when any LOWER-id image of the same micro-batch is within the distance
  (pairwise witness — deliberately conservative on A~B~C chains, same
  documented semantics as dedupindex.py).
- admitted rows append through the epoch-keyed CAS slots — exactly-once
  under retries — and only ADMITTED images' bands enter the index.

Equivalence pytest (tests/test_imagegate.py): streaming the corpus in
chunks admits exactly what a sequential Python replay of the same policy
admits, and replayed epochs are no-ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from pasardassist_spark.streaming.generations import committed_epoch, publish_epoch
from pasardassist_spark.streaming.ingest import (
    merge_into_bucketed_state,
    read_state,
)

MAX_DIST = 3  # 4-band pigeonhole bound — same constant as dhash_near_pairs


def _band_rows(hashes: DataFrame) -> DataFrame:
    """(doc_id, band, val, dhash_hi, dhash_lo) — 4 rows per image."""
    return hashes.select(
        "doc_id",
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.col("dhash_lo").bitwiseAND(0xFFFF).alias("val")),
                F.struct(F.lit(1).alias("band"), F.shiftright("dhash_lo", 16).alias("val")),
                F.struct(F.lit(2).alias("band"), F.col("dhash_hi").bitwiseAND(0xFFFF).alias("val")),
                F.struct(F.lit(3).alias("band"), F.shiftright("dhash_hi", 16).alias("val")),
            )
        ).alias("b"),
    ).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.val").alias("val"),
        "dhash_hi", "dhash_lo",
    )


def _hamming(hi_a, lo_a, hi_b, lo_b) -> F.Column:
    return F.bit_count(hi_a.bitwiseXOR(hi_b)) + F.bit_count(lo_a.bitwiseXOR(lo_b))


def apply_image_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    admitted_dir: str,
    max_dist: int = MAX_DIST,
    keep_generations: int = 2,
) -> None:
    """One epoch's gate + index merge. ``batch_df`` is (doc_id, payload)
    rows of REAL image bytes; decode happens here, once."""
    from pasardassist_spark.operators.multimodal import dhash_images

    spark = batch_df.sparkSession
    bands_dir = os.path.join(state_dir, "bands")

    slot = committed_epoch(admitted_dir, epoch_id)
    if slot is not None:
        # committed replay: the slot IS the decision; only the idempotent
        # index merge re-runs (same crash-window reasoning as the text
        # gate — a first attempt may have died between publish and merge)
        admitted = _band_rows(dhash_images(spark.read.parquet(slot)))
        merge_into_bucketed_state(
            admitted.drop("doc_id").distinct(), bands_dir, ("band", "val"),
            DataFrame.distinct, keep_generations,
        )
        return

    hashes = dhash_images(batch_df).localCheckpoint()
    bands = _band_rows(hashes).localCheckpoint()

    st = read_state(spark, bands_dir)
    if st is not None:
        cand = bands.join(
            st.select(
                "band", "val",
                F.col("dhash_hi").alias("hi_s"), F.col("dhash_lo").alias("lo_s"),
            ),
            ["band", "val"],
        )
        dup_state = (
            cand.filter(
                _hamming(
                    F.col("dhash_hi"), F.col("dhash_lo"),
                    F.col("hi_s"), F.col("lo_s"),
                ) <= max_dist
            )
            .select("doc_id")
            .distinct()
        )
    else:
        dup_state = hashes.limit(0).select("doc_id")

    # intra-batch: lower-id witness within distance (pairwise, via the
    # same band-collision candidates — pigeonhole keeps it lossless)
    a = bands.select(
        F.col("doc_id").alias("id_a"), "band", "val",
        F.col("dhash_hi").alias("hi_a"), F.col("dhash_lo").alias("lo_a"),
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), "band", "val",
        F.col("dhash_hi").alias("hi_b"), F.col("dhash_lo").alias("lo_b"),
    )
    lose_batch = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") > F.col("id_b"))
        .filter(
            _hamming(F.col("hi_a"), F.col("lo_a"), F.col("hi_b"), F.col("lo_b"))
            <= max_dist
        )
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )

    rejected = dup_state.unionByName(lose_batch).distinct()
    admitted = batch_df.join(rejected, "doc_id", "left_anti")

    if not publish_epoch(admitted, admitted_dir, epoch_id):
        admitted = spark.read.parquet(committed_epoch(admitted_dir, epoch_id))

    adm_bands = bands.join(admitted.select("doc_id"), "doc_id", "left_semi")
    merge_into_bucketed_state(
        adm_bands.drop("doc_id").distinct(), bands_dir, ("band", "val"),
        DataFrame.distinct, keep_generations,
    )
