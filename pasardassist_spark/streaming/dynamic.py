"""Dynamic source registration (SURVEY.md §2.1 S11).

Reference behavior being replaced: on a ``TokenRegistered`` event the
reference spawns a brand-new WebSocket listener for that ERC-721/1155
contract and backfills it from block 0 (tasks.service.ts:915-917,
sub-tasks.service.ts:203-217, restart-time re-subscribe
tasks.common.ts:223-231) — one listener per collection, processes and
sockets multiplying with the catalog.

Spark shape: ONE multiplexed streaming query over the shared event log,
filtered per micro-batch against a small ``collections`` control table that
is re-read every batch — registering a collection is a metadata append, not
a new query. The reference's "backfill from block 0" becomes a pending log:
events whose collection is not yet registered are parked, and every batch
re-admits parked events that now match the control table, so a registration
retroactively captures the collection's full history without restarting or
rewinding the stream.

The control table, the pending log and the exactly-once admitted-events
log (one epoch-keyed slot per micro-batch, so a foreachBatch retry of the
same epoch is a no-op) are written through the committed-directory
protocol of streaming/generations.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.streaming.generations import (
    latest_unless_replayed,
    publish_epoch,
    read_state,
    write_generation,
)
from pasardassist_spark.tables import local_frame


def register_collection(spark: SparkSession, control_dir: str, collection: str) -> None:
    """The ``TokenRegistered`` handler: append one row to the control table.
    Takes effect at the NEXT micro-batch — no query restart, no new stream."""
    existing = read_state(spark, control_dir)
    row = local_frame(spark, [(collection,)], "collection string")
    merged = row if existing is None else existing.unionByName(row).distinct()
    write_generation(merged, control_dir)


def registered_collections(spark: SparkSession, control_dir: str) -> DataFrame | None:
    return read_state(spark, control_dir)


def process_collection_batch(
    batch_df: DataFrame,
    epoch_id: int,
    control_dir: str,
    out_dir: str,
    pending_dir: str,
    collection_col: str = "event_type",
) -> None:
    """One micro-batch of the multiplexed ingest (the foreachBatch body,
    module-level so retry semantics are directly testable): admit
    (batch ∪ pending) events whose collection is registered via an
    epoch-keyed staged publish; park the rest. The control table is
    broadcast (O(collections) rows), so the filter never shuffles the
    event stream. A replayed epoch leaves the pending table as its first
    run wrote it."""
    spark = batch_df.sparkSession
    ctrl = read_state(spark, control_dir)
    pending = read_state(spark, pending_dir)
    candidates = batch_df if pending is None else batch_df.unionByName(pending)
    if ctrl is None:
        parked = candidates
    else:
        key = ctrl.withColumnRenamed("collection", collection_col)
        admitted = candidates.join(F.broadcast(key), collection_col, "semi")
        parked = candidates.join(F.broadcast(key), collection_col, "anti")
        publish_epoch(admitted, out_dir, epoch_id)
    if not latest_unless_replayed(pending_dir, epoch_id)[1]:
        write_generation(parked, pending_dir, epoch_id=epoch_id)
