"""Streaming ANN index maintenance — sim_ivf_ann's streaming twin.

A 100 TB embedding corpus is not re-indexed per query: the IVF index is a
STANDING artifact, and new embeddings must enter it as they arrive. The
production pattern (FAISS/Milvus generation model) splits the index into

- a FROZEN coarse quantizer (centroids trained once per index
  generation on a bounded sample — operators/similarity.py:
  ivf_assignments; re-training is a rebuild, not maintenance), and
- a LIVE posting table (vec_id → list_id) that incremental ingest keeps
  current: each micro-batch is assigned against the frozen centroids
  (map-only, Arrow-batched — operators/similarity.py:assign_lists) and
  MERGEd into the bucketed generational state store keyed by vec_id.

Per-batch cost is O(batch + touched-buckets), never a corpus rescan, and
the merge is latest-epoch-wins per vec_id — re-ingested (updated)
embeddings move lists correctly and foreachBatch replays converge to the
same fix point (the epoch column makes the argmax deterministic; the
store's epoch guard additionally short-circuits exact replays).

Search serves from the maintained table via the prebuilt-index path of
``ivf_topk`` — the same code path the bench's build/search split uses, so
batch-built and stream-maintained indexes are interchangeable (pytest
pins assignment equality and search equality between the two).

The reference has no vector surface at all; this closes the loop between
its always-on ingest model (tasks.service.ts:58-101) and the similarity
operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.operators.similarity import assign_lists, ivf_topk
from pasardassist_spark.streaming.ingest import (
    merge_into_bucketed_state,
    read_state,
)


def _latest_epoch_wins(postings: DataFrame) -> DataFrame:
    """Associative per-vec_id fold: the assignment from the highest epoch
    wins (list_id breaks exact-epoch ties deterministically)."""
    return postings.groupBy("vec_id").agg(
        F.max_by(
            F.col("list_id"), F.struct(F.col("epoch"), F.col("list_id"))
        ).alias("list_id"),
        F.max("epoch").alias("epoch"),
    )


def apply_ivf_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_generations: int = 2,
) -> None:
    """One epoch of posting-table maintenance: the batch's (id, vector)
    rows are assigned against the FROZEN ``centroids`` and merged into the
    generational store at ``state_dir``. Replays converge (see module
    docstring)."""
    delta = assign_lists(batch_df, centroids, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"),
        "list_id",
        F.lit(epoch_id).cast("long").alias("epoch"),
    )
    # epoch_id: the merge is idempotent anyway (max_by fold), but the
    # guard short-circuits an exact replay to a no-op read
    merge_into_bucketed_state(
        delta, state_dir, ("vec_id",), _latest_epoch_wins,
        keep_generations, epoch_id=epoch_id,
    )


def index_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained posting table (vec_id, list_id) — drop the epoch
    bookkeeping; shape-identical to ivf_assignments' first return."""
    st = read_state(spark, state_dir)
    if st is None:
        raise ValueError(f"no committed IVF posting state under {state_dir}")
    return st.select("vec_id", "list_id")


def ivf_search_maintained(
    spark: SparkSession,
    state_dir: str,
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    centroids: DataFrame,
) -> DataFrame:
    """Serve top-k from the stream-maintained index: the prebuilt-index
    path of ``ivf_topk`` fed by the posting state — identical plan to
    serving from a batch-built index."""
    return ivf_topk(
        emb,
        query_ids,
        k,
        assignments=index_from_state(spark, state_dir),
        centroids=centroids,
    )
