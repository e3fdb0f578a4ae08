"""Structured Streaming ingestion — the Spark rebuild of the reference's
"tasks" half (SURVEY.md §2.1, §2.9, §3.2).

Reference behavior being replaced:

- paged catch-up scan + live WebSocket tail per contract event type
  (tasks.service.ts:58-101) -> ONE streaming query per event log: a
  checkpointed ``readStream`` is both backfill and tail, exactly-once
  (ST1/S3), with ``maxFilesPerTrigger`` as the rate cap (S1).
- upsert sinks + Bull/Redis retry queue for out-of-order child events
  (db.service.ts:87-161, sub-tasks.service.ts:122-174) -> ``foreachBatch``
  latest-state MERGE: each micro-batch folds into the entity table keyed by
  the natural key; ordering is by event time not arrival, so out-of-order
  arrivals converge without a retry queue (S7/S9/ST4).

MERGE emulation without Delta: the silver table is written as versioned
generations (``v000001``, ...), each hash-bucketed by the entity key
(``bucket=NN`` partition dirs). A batch only MERGES the buckets its keys
touch: generation N+1 = rewrite(touched buckets) + hard-link(untouched
buckets from generation N). Per-batch I/O is therefore
O(batch + touched-state), not O(state) — the property a 100 TB silver table
needs. On a Delta/Iceberg-equipped cluster the ``_merge_batch`` body
becomes a single ``MERGE INTO``; the surrounding streaming topology is
unchanged. Generations also give the poor-man's time travel the reference
lacks entirely.

Scale rule for the bucket count (measured, BASELINE.md round-16 100x twin):
bucket count bounds per-batch I/O only when a batch's keys are
CONCENTRATED relative to the key space (time-correlated arrivals,
key-range bucketing). A batch whose keys hash-spray across every bucket
touches the whole store regardless of bucket count — and raising the
count then only adds per-file/task overhead (16 -> 256 buckets made the
100x fixed-probe batch 1.5x SLOWER). For uniformly-spraying workloads the
next decade is an LSM-shaped merge policy on this same layout: append
per-bucket DELTA files each batch (O(batch) per batch) and fold them into
the base on an amortized compaction cadence.

One merge contract for every policy: a table's ``fold(df) -> df`` reduces
a state-schema frame (no ``bucket`` column) to its fix point — an
IDEMPOTENT, order-insensitive reduction such as latest_per_key, distinct,
or a groupBy re-aggregation of sums/min/max/sketch unions. The eager merge
writes ``fold(prev_touched ∪ batch)``, the LSM policy folds base + layers
on compaction, and ``read_lsm_state`` folds on read — all with the same
fold object. The ``bucket`` column never leaves this module.

Crash safety, CAS publish and the epoch-replay guard are the committed-
directory protocol of streaming/generations.py; every write here goes
through its ``publish``.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from pasardassist_spark.caching import scratch_dir
from pasardassist_spark.operators.latest import latest_per_key
from pasardassist_spark.streaming.generations import (
    EPOCH_MARKER,
    apply_retention,
    committed_versions as _state_versions,
    latest_unless_replayed,
    link_tree as _link_tree,
    next_version_dir,
    publish,
    read_marker,
    read_state,
    start_epochs,
    write_markers,
)


def stage_file_source(sf_dir: str, table: str, prefix: str) -> str:
    """A fresh ``caching.scratch_dir`` whose ``src`` subdirectory links
    ``sf_dir``'s ``table`` parquet file, for a file-stream source to
    read; state and checkpoint go beside ``src``. The link target is
    absolute: a relative one resolves against the link's directory."""
    work = scratch_dir(prefix)
    src = os.path.join(work, "src")
    os.makedirs(src)
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, f"{table}.parquet")),
        os.path.join(src, f"{table}.parquet"),
    )
    return work


def read_event_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Checkpointable event-log stream (backfill + tail in one query).

    The stream schema is derived from the files themselves (a batch-side
    footer read is allowed before the stream starts) rather than hard-coded:
    different testdata generations encode ``ts`` as TIMESTAMP(NANOS)-as-long
    or as plain timestamp[us], and a hard-coded ``ts long`` schema against
    micros data *runs* but collapses every event time to ~1970 — a silent
    unit error. ``_normalize_event_time`` applies the identical conditional
    conversion the batch scan uses, so replay-equals-batch holds by
    construction.
    """
    from pasardassist_spark.tables import _normalize_event_time

    # Same TIMESTAMP(NANOS) quirk as the batch scan (tables.load): set it
    # here too so a stream can be the session's FIRST events read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(src_dir).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    return _normalize_event_time(raw)


N_STATE_BUCKETS = 16  # key-hash buckets; at 100 TB this becomes O(1000s)


def _bucket_of(keys: Sequence[str]) -> Column:
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(N_STATE_BUCKETS))


LSM_LAYERS_MARKER = "_LSM_LAYERS"  # delta layers since the last compaction


def _lsm_layers(gen_dir: str) -> int:
    return read_marker(gen_dir, LSM_LAYERS_MARKER) or 0


def _publish_generation(
    state_dir: str,
    kind: str,
    staged: DataFrame,
    keep_generations: int,
    markers: dict[str, int | None],
    link_from: str | None = None,
    skip_buckets: Sequence[int] = (),
    slot: str | None = None,
) -> bool:
    """The one write path of the store: through generations.publish, write
    ``staged`` (carrying the ``bucket`` column), hard-link every bucket of
    ``link_from`` not in ``skip_buckets`` and write the non-None
    ``markers``; then apply retention. ``slot=None`` takes the next free
    slot; with a ``slot`` (compaction) a lost race returns False."""

    def write(tmp_dir: str) -> None:
        staged.write.partitionBy("bucket").mode("overwrite").parquet(tmp_dir)
        if link_from is not None:
            skip = {f"bucket={b}" for b in skip_buckets}
            for d in os.listdir(link_from):
                if d.startswith("bucket=") and d not in skip:
                    _link_tree(os.path.join(link_from, d), os.path.join(tmp_dir, d))
        write_markers(tmp_dir, markers)

    if publish(state_dir, kind, write, slot) is None:
        return False
    apply_retention(state_dir, _state_versions(state_dir)[:-1], keep_generations)
    return True


def merge_into_bucketed_state(
    batch_state: DataFrame,
    state_dir: str,
    keys: Sequence[str],
    fold,
    keep_generations: int = 2,
    epoch_id: int | None = None,
) -> None:
    """The generic incremental MERGE: fold a per-batch state delta into the
    bucketed, generational state table.

    ``fold(df) -> df`` reduces a state-schema frame to its fix point (see
    the module docstring); the store computes
    ``fold(prev_touched ∪ batch_state)`` itself, so the ``bucket`` column
    never reaches ``fold``. Only buckets named by the delta are re-merged
    and rewritten; untouched buckets hard-link from the previous
    generation (O(batch + touched-state) I/O per batch). On Delta the body
    becomes a single MERGE INTO.

    Publication is atomic (generations.publish): if a concurrent
    compaction took the slot first, the merge retries with the next slot;
    compaction preserves logical state, so the staged content stays
    correct.

    ``epoch_id`` (opt-in) makes NON-idempotent folds (sums, counters)
    exactly-once under foreachBatch retries: each generation records the
    epoch that produced it, and a replay whose epoch is <= the recorded
    one is a no-op. Argmax-style folds don't need it (replay is a natural
    no-op); sum-style folds DO — a crash between the state commit and the
    stream's checkpoint commit otherwise double-merges the batch on
    restart. Compaction carries the marker forward.
    """
    prev_dir, replayed = latest_unless_replayed(state_dir, epoch_id)
    if replayed:
        return  # replay of an already-merged epoch
    delta = batch_state.withColumn("bucket", _bucket_of(keys))
    # Driver-side METADATA collect: at most N_STATE_BUCKETS small ints
    # (which partitions to merge), never data rows.
    touched = sorted(r["bucket"] for r in delta.select("bucket").distinct().collect())
    if not touched:
        # an EMPTY delta must be a no-op, not an empty generation: a
        # zero-row partitionBy write stages no parquet footers, and the
        # next read_state of that committed slot dies with
        # UNABLE_TO_INFER_SCHEMA. A batch of pure rejects (every doc
        # dead-lettered or gate-failed — e.g. a spam-only crawl window)
        # is a legitimate epoch, found by the round-13 10x docgate
        # replica whose token prefixing starved the Gopher gate.
        return
    if prev_dir is None:
        merged = delta
    else:
        prev_touched = (
            batch_state.sparkSession.read.parquet(prev_dir)
            .filter(F.col("bucket").isin(touched))
            .drop("bucket")
        )
        merged = fold(prev_touched.unionByName(batch_state)).withColumn(
            "bucket", _bucket_of(keys)
        )
    # Repartitioned by key so the merge join and the next read are
    # co-partitioned.
    _publish_generation(
        state_dir, "merge", merged.repartition(*keys), keep_generations,
        {EPOCH_MARKER: epoch_id}, link_from=prev_dir, skip_buckets=touched,
    )


def append_into_bucketed_state(
    batch_state: DataFrame,
    state_dir: str,
    keys: Sequence[str],
    fold,
    keep_generations: int = 2,
    epoch_id: int | None = None,
    compact_every: int = 8,
) -> None:
    """LSM-shaped MERGE for uniformly-spraying batches (the BASELINE.md
    round-16 100x finding): when a batch's keys hash-spray across every
    bucket, the eager merge (merge_into_bucketed_state) rereads and
    rewrites the WHOLE store each batch — touched-state is all state. This
    policy instead APPENDS the batch as a delta layer (one file per
    touched bucket, O(batch) write; every prior file hard-links forward,
    O(1) I/O each) and folds the layers down only on an amortized
    compaction cadence (every ``compact_every``-th append rewrites the
    store folded — O(state)/compact_every amortized per batch).

    ``fold`` is the same unary fold the eager merge takes, so the two
    policies are interchangeable per table. Readers of an LSM table MUST
    read through :func:`read_lsm_state`, which applies the same fold over
    base+layers; read cost grows with layer count, which
    ``compact_every`` bounds.

    Same publish path, epoch replay guard, retention, and empty-delta
    no-op as the eager merge.
    """
    prev_dir, replayed = latest_unless_replayed(state_dir, epoch_id)
    if replayed:
        return  # replay of an already-applied epoch
    delta = batch_state.withColumn("bucket", _bucket_of(keys))
    if delta.select("bucket").limit(1).count() == 0:
        return  # empty delta: no-op, never an empty generation
    layers = _lsm_layers(prev_dir) if prev_dir else 0
    if prev_dir is None or layers + 1 >= compact_every:
        # compaction epoch (or first write): fold base + layers + delta to
        # the fix point and rewrite — the amortized O(state) pass
        frames = batch_state
        if prev_dir is not None:
            frames = frames.unionByName(
                batch_state.sparkSession.read.parquet(prev_dir).drop("bucket")
            )
        staged = fold(frames).withColumn("bucket", _bucket_of(keys)).repartition(*keys)
        link_from, layers = None, 0
    else:
        # append epoch: one delta file per touched bucket (repartition by
        # the bucket column -> each bucket's rows land in ONE task), then
        # hard-link every prior file forward — O(batch + #files) total
        staged = delta.repartition(F.col("bucket"))
        link_from, layers = prev_dir, layers + 1
    _publish_generation(
        state_dir, "lsm", staged, keep_generations,
        {LSM_LAYERS_MARKER: layers, EPOCH_MARKER: epoch_id}, link_from=link_from,
    )


def read_lsm_state(
    spark: SparkSession, state_dir: str, fold, version: int | str | None = None
):
    """Read an LSM state table folded to its fix point: the committed
    generation's base + unmerged delta layers, reduced by the table's
    ``fold`` (the same one its appends use). Returns None before the
    first generation, like read_state."""
    df = read_state(spark, state_dir, version)
    return None if df is None else fold(df)


def maintain_latest_state(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str] = ("user_id",),
    keep_generations: int = 2,
    backend: str = "auto",
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> StreamingQuery:
    """foreachBatch MERGE: entity state = latest event per key (ST4).

    Idempotent under replay: merging the same events twice is a no-op
    because the fold is an argmax by ``order_cols`` (event time, event
    id), mirroring the reference's idempotent upserts (ST2).

    Incremental: state is hash-bucketed by key; only buckets containing a
    batch key are re-merged and rewritten — untouched buckets are
    hard-linked from the previous generation, so per-batch I/O is
    O(batch + touched-state), not O(state).

    ``backend`` selects the sink: ``"generations"`` = the portable
    parquet generation store (eager per-batch merge); ``"lsm"`` = the
    same store under the append-delta policy
    (:func:`append_into_bucketed_state` — right when batch keys spray
    across all buckets; read the table back through
    :func:`read_lsm_state` with the matching latest_per_key fold);
    ``"delta"`` = a transactional Delta ``MERGE INTO``
    (streaming/delta_sink.py; requires delta-spark, raises otherwise);
    ``"auto"`` = delta when installed, else generations — the same code
    deploys on a Delta cluster and in this container.
    """
    if backend not in ("auto", "generations", "delta", "lsm"):
        raise ValueError(f"unknown backend {backend!r}")
    if backend == "auto":
        from pasardassist_spark.streaming.delta_sink import delta_available

        backend = "delta" if delta_available() else "generations"

    def fold(df: DataFrame) -> DataFrame:
        return latest_per_key(df, list(keys), [F.desc(c) for c in order_cols])

    def _merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_latest = fold(batch_df)
        if backend == "delta":
            from pasardassist_spark.streaming.delta_sink import (
                merge_latest_into_delta,
            )

            merge_latest_into_delta(batch_latest, state_dir, keys, order_cols)
        else:
            write = (
                append_into_bucketed_state if backend == "lsm"
                else merge_into_bucketed_state
            )
            write(batch_latest, state_dir, keys, fold, keep_generations)

    return start_epochs(stream, checkpoint_dir, _merge_batch)


def apply_entity_batch(
    batch_df: DataFrame,
    epoch_id: int,
    state_dir: str,
    keep_generations: int = 2,
) -> None:
    """One epoch of ST4 as a true state MACHINE (not just row argmax): the
    batch is folded by ``fold_entity_state`` (status argmax + additive
    counters + extrema — the reference's per-event $set/$inc mutations,
    tasks.service.ts:367-373,585-591) and merged associatively into the
    bucketed state table, whose fold is ``merge_entity_states``. fold ⊕
    merge associativity makes replay and out-of-order arrival converge to
    the batch fix point. The counters are sums, so the merge carries the
    epoch guard: a replayed epoch is a no-op, not a second count."""
    from pasardassist_spark.operators.fold import (
        fold_entity_state,
        merge_entity_states,
    )

    merge_into_bucketed_state(
        fold_entity_state(batch_df), state_dir, ("user_id",),
        merge_entity_states, keep_generations, epoch_id=epoch_id,
    )


def streaming_day_rollup(stream: DataFrame, watermark: str = "2 days") -> DataFrame:
    """ST3: tumbling-day rollup with late-data watermark. ``st3_stream_rollup``
    replays the events log through it and checks the rows against the batch
    day rollup (its DuckDB oracle)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(F.col("w.start").alias("day"), "n_events", "total_value", "approx_users")
    )


def compact_state(
    spark: SparkSession,
    state_dir: str,
    files_per_bucket: int = 1,
    keep_generations: int = 2,
) -> bool:
    """Maintenance: rewrite the latest generation with coalesced files.

    The incremental merge writes up to shuffle-partitions files per touched
    bucket per batch; after many micro-batches a bucket accumulates small
    files (the classic streaming small-files problem — at 100 TB this is
    what slowly kills scan throughput and NameNode/listing latency). This
    job reads the latest committed generation and writes a new generation
    with up to ``files_per_bucket`` files per bucket (a salt spreads each
    bucket over that many write tasks, so a hot bucket keeps write and scan
    parallelism). Run it on a cadence, like a Delta OPTIMIZE.

    Concurrency: the new generation is published into the version slot
    after the one it read — if a concurrent micro-batch committed that
    version first, compaction ABORTS cleanly (returns False; retry next
    cadence). ``keep_generations`` must match the stream's setting: retention
    here must not delete history the pipeline is keeping for time travel —
    and must leave enough generations that the concurrent stream's read of
    the pre-compaction generation cannot be reaped mid-job.
    """
    versions = _state_versions(state_dir)
    if not versions:
        return True
    cur_dir = os.path.join(state_dir, versions[-1])
    cur = spark.read.parquet(cur_dir)
    # bucket count from the directory listing — no table scan
    n_buckets = sum(1 for d in os.listdir(cur_dir) if d.startswith("bucket="))
    if n_buckets == 0:
        return True
    salt = F.pmod(F.hash(*[c for c in cur.columns if c != "bucket"]), F.lit(files_per_bucket))
    return _publish_generation(
        state_dir,
        "compact",
        cur.repartition(max(1, n_buckets * files_per_bucket), F.col("bucket"), salt),
        keep_generations,
        # carry the epoch marker forward: compaction preserves logical
        # state, including which epoch last merged (else a post-compaction
        # replay of that epoch would double-merge)
        {EPOCH_MARKER: read_marker(cur_dir, EPOCH_MARKER)},
        slot=next_version_dir(state_dir, versions),
    )
