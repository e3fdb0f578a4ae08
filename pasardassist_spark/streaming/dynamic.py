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

The control table and pending log use the same committed-generation
discipline as the state store (ingest.py): a generation is visible only
after its commit marker lands, so a crash mid-write never truncates the
pending log. The admitted-events log is EXACTLY-ONCE: each epoch's rows
are staged (files + commit marker) and atomically renamed into an
epoch-keyed slot, so a foreachBatch retry of the same epoch is a no-op
and readers (admitted_events) see only committed slots.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from pasardassist_spark.streaming.generations import (
    COMMIT_MARKER,
    commit as _commit,
    read_latest as _read_generation,
    write_generation as _write_generation,
)
from pasardassist_spark.tables import local_frame


def register_collection(spark: SparkSession, control_dir: str, collection: str) -> None:
    """The ``TokenRegistered`` handler: append one row to the control table.
    Takes effect at the NEXT micro-batch — no query restart, no new stream."""
    existing = _read_generation(spark, control_dir)
    row = local_frame(spark, [(collection,)], "collection string")
    merged = row if existing is None else existing.unionByName(row).distinct()
    _write_generation(merged, control_dir)


def registered_collections(spark: SparkSession, control_dir: str) -> DataFrame | None:
    return _read_generation(spark, control_dir)


def _publish_epoch(staged_dir: str, out_dir: str, epoch_id: int) -> bool:
    """Atomically publish one epoch's admitted rows into its epoch-keyed
    slot. Exactly-once under foreachBatch retry: the slot name is derived
    from ``epoch_id`` (which Spark replays VERBATIM when a failed batch is
    retried), so a second attempt finds the committed slot and becomes a
    no-op instead of a second append. A leftover slot WITHOUT its commit
    marker is a crashed pre-publish attempt's garbage and is replaced.
    Returns False when the epoch was already committed."""
    dst = os.path.join(out_dir, f"e{epoch_id:09d}")
    if os.path.exists(os.path.join(dst, COMMIT_MARKER)):
        shutil.rmtree(staged_dir, ignore_errors=True)
        return False
    if os.path.isdir(dst):
        shutil.rmtree(dst, ignore_errors=True)
    try:
        os.rename(staged_dir, dst)  # marker rides inside: publish is atomic
    except OSError:
        # a concurrent retry of the SAME epoch won the rename; its content
        # is identical by construction (same offsets, same control state)
        shutil.rmtree(staged_dir, ignore_errors=True)
        return False
    return True


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
    epoch-keyed staged publish; park the rest."""
    spark = batch_df.sparkSession
    ctrl = _read_generation(spark, control_dir)
    pending = _read_generation(spark, pending_dir)
    candidates = batch_df if pending is None else batch_df.unionByName(pending)
    if ctrl is None:
        parked = candidates
    else:
        key = ctrl.withColumnRenamed("collection", collection_col)
        admitted = candidates.join(F.broadcast(key), collection_col, "semi")
        parked = candidates.join(F.broadcast(key), collection_col, "anti")
        # Exactly-once admitted log: stage this epoch's rows fully
        # (parquet files + commit marker), then CAS-publish into the
        # epoch-keyed slot — same discipline as the state store
        # (generations.publish_staged), keyed by epoch for idempotence.
        os.makedirs(out_dir, exist_ok=True)
        staged = os.path.join(out_dir, f".stage-{epoch_id}-{os.getpid()}")
        admitted.write.mode("overwrite").parquet(staged)
        _commit(staged)
        _publish_epoch(staged, out_dir, epoch_id)
    _write_generation(parked, pending_dir)


COMPACT_MANIFEST = "_COMPACTED.json"


def _committed_slots(out_dir: str) -> list[str]:
    return sorted(
        d
        for d in os.listdir(out_dir)
        if d[0] in "ec"
        and os.path.exists(os.path.join(out_dir, d, COMMIT_MARKER))
    )


def _replaced_slots(out_dir: str, slots: list[str]) -> set[str]:
    """Union of every committed consolidation's ``replaces`` list.
    Manifests carry the TRANSITIVE closure (a re-compaction lists its
    inputs' inputs too), so a long-crashed deletion can never resurface
    an ancient slot even after its direct replacer is itself compacted
    away and deleted."""
    import json

    gone: set[str] = set()
    for d in slots:
        if d.startswith("c"):
            mf = os.path.join(out_dir, d, COMPACT_MANIFEST)
            with open(mf) as fh:
                gone.update(json.load(fh)["replaces"])
    return gone


def admitted_events(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The admitted-events log: union of committed epoch slots (``e…``)
    and consolidated slots (``c…``), minus slots a committed consolidation
    replaced. Uncommitted (crashed) slots are invisible, so readers see
    each admitted event exactly once — before, during, and after
    compaction.

    Isolation is file-listing-level, like any directory-backed table
    without a transaction log: the returned frame is LAZY over the slot
    paths listed now, and a compaction that deletes a listed slot before
    the action runs fails that action with a missing-path error (never
    silent loss — deletion happens only after the consolidated slot
    committed, so a retry sees the consistent post-compaction listing).
    Materialize promptly or retry on failure; do not cache the frame
    across compaction cycles."""
    if not os.path.isdir(out_dir):
        return None
    slots = _committed_slots(out_dir)
    gone = _replaced_slots(out_dir, slots)
    dirs = [os.path.join(out_dir, d) for d in slots if d not in gone]
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def compact_epoch_log(
    spark: SparkSession, out_dir: str, keep_last: int = 2
) -> bool:
    """Fold old epoch slots into ONE consolidated slot — the small-files
    story of the per-epoch CAS log at 100 TB (one slot per micro-batch,
    thousands per day) closed the same way the bucketed state closes it
    (compact_state), while preserving the reader contract above.

    Protocol: read the union of every committed slot older than the
    newest ``keep_last`` epoch slots (the hot tail stays; Spark can only
    replay the latest unacknowledged epoch, so compacted epochs are
    beyond replay reach and ``_publish_epoch``'s slot-exists check never
    needs the deleted dirs), stage consolidated parquet + a manifest
    naming every replaced slot (transitively) + the commit marker, then
    os.rename() into the ``c<first>-<last>`` slot — the same CAS as
    every other publisher here. Replaced slots are deleted only AFTER
    the rename; a crash between leaves duplicates on disk that readers
    already ignore (the manifest wins) and the next compaction garbage-
    collects. Returns False when there is nothing to compact or another
    compactor holds the lock.

    Mutual exclusion: the dst-name CAS alone cannot defend two compactors
    that listed DIFFERENT candidate sets (both would commit overlapping
    consolidations and double-count rows), so the whole operation runs
    under a kernel-arbitrated ``flock`` on ``.compact-lock``. Unlike the
    earlier mkdir+TTL protocol — whose stale-break was a TOCTOU class
    (every variant of check-then-break leaves a window where a breaker
    can steal a freshly re-created live lock, reviewed twice in r7/r8) —
    an OS advisory lock has no staleness heuristic at all: a crashed
    holder's lock releases the instant its process dies, a live holder
    can never be stolen from, and contenders fail the non-blocking
    acquire atomically. A crashed compactor's orphaned ``.compact-*``
    staging is ignored by readers (no commit marker at a listed name).

    Scope caveat: flock arbitrates within one kernel (and over NFSv4,
    which maps it to byte-range locks); on mounts where BSD flock is
    per-host-emulated (NFSv3) CROSS-HOST compactors are not excluded.
    The deployment contract is therefore the same as the generational
    store's: state dirs live on a local/POSIX mount, and a multi-host
    deployment schedules compaction as a singleton job — which is also
    the only sane shape at 100 TB (compaction is maintenance, not a
    per-writer side effect).
    """
    import fcntl
    import json

    if not os.path.isdir(out_dir):
        return False
    lock = os.path.join(out_dir, ".compact-lock")
    if os.path.isdir(lock):
        # one-time migration from the pre-flock directory lock: a dir at
        # the lock name means a crashed old-protocol compactor (live ones
        # no longer exist once this code deploys); remove it so open()
        # can create the lock FILE.
        shutil.rmtree(lock, ignore_errors=True)
    try:
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    except OSError:
        # e.g. the migration rmtree failed (foreign-uid dir, flaky mount):
        # degrade exactly like a contended lock rather than crash the
        # caller — every acquisition failure mode returns False.
        return False
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return False  # live concurrent compactor
    try:
        return _compact_epoch_log_locked(spark, out_dir, keep_last, json)
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _compact_epoch_log_locked(
    spark: SparkSession, out_dir: str, keep_last: int, json
) -> bool:
    slots = _committed_slots(out_dir)
    gone = _replaced_slots(out_dir, slots)
    # opportunistic GC of replaced-but-present slots from a prior crash
    for d in gone:
        if os.path.isdir(os.path.join(out_dir, d)):
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    live = [d for d in slots if d not in gone]
    e_slots = [d for d in live if d.startswith("e")]
    tail = e_slots[-keep_last:] if keep_last > 0 else []
    candidates = [d for d in live if d not in tail]
    if len(candidates) < 2:
        return False

    def _bounds(name: str) -> tuple[int, int]:
        if name.startswith("e"):
            return int(name[1:]), int(name[1:])
        lo, hi = name[1:].split("-")
        return int(lo), int(hi)

    lo = min(_bounds(d)[0] for d in candidates)
    hi = max(_bounds(d)[1] for d in candidates)
    replaces = sorted(set(candidates) | gone)

    staged = os.path.join(out_dir, f".compact-{os.getpid()}")
    spark.read.parquet(
        *[os.path.join(out_dir, d) for d in candidates]
    ).write.mode("overwrite").parquet(staged)
    with open(os.path.join(staged, COMPACT_MANIFEST), "w") as fh:
        json.dump({"replaces": replaces}, fh)
    _commit(staged)
    dst = os.path.join(out_dir, f"c{lo:09d}-{hi:09d}")
    try:
        os.rename(staged, dst)
    except OSError:
        shutil.rmtree(staged, ignore_errors=True)
        return False
    for d in candidates:
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    return True


def dynamic_collection_sink(
    stream: DataFrame,
    control_dir: str,
    out_dir: str,
    pending_dir: str,
    checkpoint_dir: str,
    collection_col: str = "event_type",
) -> StreamingQuery:
    """Multiplexed ingest: per batch, admit (batch ∪ pending) events whose
    collection is registered; park the rest. The control table is broadcast
    (O(collections) rows) — the filter is a broadcast semi-join, never a
    shuffle of the event stream. The admitted log is exactly-once (epoch-
    keyed staged publish, see process_collection_batch)."""

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_collection_batch(
            batch_df, epoch_id, control_dir, out_dir, pending_dir, collection_col
        )

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
