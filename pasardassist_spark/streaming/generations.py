"""The committed-directory protocol: the one module that knows where
epochs come from and how a committed directory is written, read and
guarded against replay. Every streaming store calls it — the bucketed
state store (ingest.py), the control/pending tables (dynamic.py), the
heavy-hitter summary and the per-epoch logs of the ingest gates and the
drift monitor.

- **Epochs.** Every stream form is a module-level epoch function
  ``apply…(batch_df, epoch_id, …)``; :func:`start_epochs` runs it as a
  checkpointed micro-batch stream. Configuration binds at the call site
  (``functools.partial`` or a lambda), and the same function replays a
  batch frame directly, which is how the registry's composites and the
  replay tests drive it.

- **Staging.** A writer stages in ``<dir>/.<kind>-<pid>``: the Spark write,
  hard links and marker files all land there first. Dot-prefixed names are
  never listed as committed, so a crash at any step leaves no partial
  table. Before it stages, a writer removes every ``.<kind>-<pid>``
  directory whose process no longer runs (a crashed writer's leftover); a
  live process's staging directory, such as a concurrent compactor's, is
  never touched.
- **Commit marker.** A directory EXISTS only once its ``_COMMITTED`` file
  lands. Spark's own ``_SUCCESS`` is not enough: hard links and markers
  land after the job commit.
- **CAS publish.** The marker rides inside one ``os.rename`` of the staged
  directory into its slot. Rename onto a non-empty directory fails, so a
  committed directory is never overwritten: :func:`publish` into a named
  ``slot`` returns None on a lost race, and :func:`publish_staged` retries
  with the next free ``v000001``-style version slot. A slot holding an
  UNcommitted directory is a crashed pre-CAS writer's garbage and is
  cleared. Retention deletes old versions; hard-linked files survive
  because links are inode references.
- **Epoch slots.** A per-epoch log (``e000000007``, …) is keyed by the
  foreachBatch epoch id, which Spark replays verbatim on retry:
  :func:`publish_epoch` of a committed epoch is a no-op, and readers
  (:func:`admitted_events`) see committed slots only. Compaction folds old
  slots into one ``c<first>-<last>`` slot whose ``_COMPACTED.json``
  manifest names the slots it replaces.
- **Replay guard.** A version written for an epoch carries it in an
  ``_EPOCH`` marker; :func:`latest_unless_replayed` tells a writer that
  its epoch is already applied, which makes sum-style merges exactly-once.

Deployment contract: one streaming writer per directory, on a local/POSIX
mount (the pid-liveness check and ``flock`` arbitrate within one kernel).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

COMMIT_MARKER = "_COMMITTED"
EPOCH_MARKER = "_EPOCH"  # underscore prefix: invisible to parquet readers
COMPACT_MANIFEST = "_COMPACTED.json"

_STAGING = re.compile(r"\.[A-Za-z][\w-]*-(\d+)")


def start_epochs(
    stream: DataFrame, checkpoint_dir: str, apply: Callable[[DataFrame, int], None]
) -> StreamingQuery:
    """Start ``stream`` as checkpointed micro-batch epochs: Spark calls
    ``apply(batch_df, epoch_id)`` once per epoch and, after a restart from
    ``checkpoint_dir``, replays an uncommitted epoch with the same id —
    which the epoch slots and the replay guard below turn into a no-op."""
    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def committed_versions(state_dir: str) -> list[str]:
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        d
        for d in os.listdir(state_dir)
        if d.startswith("v") and os.path.exists(os.path.join(state_dir, d, COMMIT_MARKER))
    )


def next_version_dir(state_dir: str, versions: list[str] | None = None) -> str:
    vs = committed_versions(state_dir) if versions is None else versions
    return os.path.join(
        state_dir, f"v{(int(vs[-1][1:]) + 1) if vs else 1:06d}"
    )


def commit(gen_dir: str) -> None:
    with open(os.path.join(gen_dir, COMMIT_MARKER), "w"):
        pass  # the generation becomes visible only now


def _clear_uncommitted(slot: str) -> None:
    if os.path.isdir(slot) and not os.path.exists(os.path.join(slot, COMMIT_MARKER)):
        shutil.rmtree(slot, ignore_errors=True)


def publish_staged(tmp_dir: str, state_dir: str, max_tries: int = 16) -> str:
    """Rename a fully staged (already commit-marked) directory into the
    next free version slot. On a lost race (a concurrent compaction
    committed the slot first) it retries with the next slot number; that is
    sound only because compaction preserves logical state and there is ONE
    streaming writer per state dir."""
    for _ in range(max_tries):
        nxt = next_version_dir(state_dir)
        _clear_uncommitted(nxt)
        try:
            os.rename(tmp_dir, nxt)
            return nxt
        except OSError:
            continue  # slot taken between listing and rename; re-derive
    shutil.rmtree(tmp_dir, ignore_errors=True)
    raise RuntimeError(f"could not publish staged generation after {max_tries} tries")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)  # signal 0: an existence check, nothing is sent
    except (ProcessLookupError, OverflowError):
        return False
    except PermissionError:
        return True  # another user's live process
    return True


def _clear_dead_staging(out_dir: str) -> None:
    for d in os.listdir(out_dir):
        m = _STAGING.fullmatch(d)
        path = os.path.join(out_dir, d)
        if m and os.path.isdir(path) and not _alive(int(m.group(1))):
            shutil.rmtree(path, ignore_errors=True)


def publish(
    out_dir: str, kind: str, write: Callable[[str], None], slot: str | None = None
) -> str | None:
    """The one publish path: stage in ``<out_dir>/.<kind>-<pid>``, let
    ``write(staged)`` fill it (Spark write, hard links, marker files),
    commit, then rename into ``slot``. Returns the published directory, or
    None when another writer committed ``slot`` first (the staging dir is
    removed). With no ``slot`` it takes the next free version slot
    (:func:`publish_staged`)."""
    os.makedirs(out_dir, exist_ok=True)
    _clear_dead_staging(out_dir)
    staged = os.path.join(out_dir, f".{kind}-{os.getpid()}")
    write(staged)
    commit(staged)
    if slot is None:
        return publish_staged(staged, out_dir)
    _clear_uncommitted(slot)
    try:
        os.rename(staged, slot)  # CAS: fails if the slot was taken
    except OSError:
        shutil.rmtree(staged, ignore_errors=True)
        return None
    return slot


def write_markers(gen_dir: str, markers: dict[str, int | None]) -> None:
    """Write each non-None ``markers`` value into its named file."""
    for name, value in markers.items():
        if value is not None:
            with open(os.path.join(gen_dir, name), "w") as fh:
                fh.write(str(value))


def read_marker(gen_dir: str, name: str) -> int | None:
    p = os.path.join(gen_dir, name)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return int(fh.read().strip())


def latest_unless_replayed(
    state_dir: str, epoch_id: int | None
) -> tuple[str | None, bool]:
    """(latest committed version dir or None, whether ``epoch_id`` is
    already applied there) — the epoch-replay guard of every writer."""
    versions = committed_versions(state_dir)
    if not versions:
        return None, False
    prev_dir = os.path.join(state_dir, versions[-1])
    applied = read_marker(prev_dir, EPOCH_MARKER) if epoch_id is not None else None
    return prev_dir, applied is not None and applied >= epoch_id


def apply_retention(state_dir: str, versions: list[str], keep: int) -> None:
    if len(versions) >= keep:
        for stale in versions[: len(versions) - keep + 1]:
            shutil.rmtree(os.path.join(state_dir, stale), ignore_errors=True)


def read_state(
    spark: SparkSession, state_dir: str, version: int | str | None = None
) -> DataFrame | None:
    """A committed version of a store, if any — the latest by default, or
    a specific retained one via ``version`` (an int like 3 or a slot name
    like "v000003") — Delta-style time travel bounded by retention. Asking
    for a version outside the retained window raises (listing the retained
    slots) rather than silently serving a different snapshot. Hive-style
    partition columns (``name=value`` directories) are the store's physical
    layout and are dropped from the view."""
    versions = committed_versions(state_dir)
    if not versions:
        return None
    if version is None:
        pick = versions[-1]
    else:
        pick = version if isinstance(version, str) else f"v{version:06d}"
        if pick not in versions:
            raise ValueError(
                f"version {pick!r} is not a committed retained generation "
                f"of {state_dir}; retained: {versions}"
            )
    gen_dir = os.path.join(state_dir, pick)
    layout = {d.split("=", 1)[0] for d in os.listdir(gen_dir) if "=" in d}
    df = spark.read.parquet(gen_dir)
    return df.drop(*layout) if layout else df


def write_generation(
    df: DataFrame, state_dir: str, keep: int = 2, epoch_id: int | None = None
) -> None:
    """Whole-table version write (small tables: control, pending, the
    heavy-hitter summary); ``epoch_id`` arms the replay guard."""

    def write(staged: str) -> None:
        df.write.mode("overwrite").parquet(staged)
        write_markers(staged, {EPOCH_MARKER: epoch_id})

    publish(state_dir, "gen", write)
    apply_retention(state_dir, committed_versions(state_dir)[:-1], keep)


def link_tree(src: str, dst: str) -> None:
    """Hard-link a directory's files into another tree (O(1) I/O per file;
    falls back to copy across devices)."""
    for root, _, files in os.walk(src):
        rel = os.path.relpath(root, src)
        tgt = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(tgt, exist_ok=True)
        for f in files:
            try:
                os.link(os.path.join(root, f), os.path.join(tgt, f))
            except OSError:
                shutil.copy2(os.path.join(root, f), os.path.join(tgt, f))


# -- per-epoch logs -----------------------------------------------------------


def _epoch_slot(out_dir: str, epoch_id: int) -> str:
    return os.path.join(out_dir, f"e{epoch_id:09d}")


def committed_epoch(out_dir: str, epoch_id: int) -> str | None:
    """The committed slot of ``epoch_id`` in a per-epoch log, or None."""
    slot = _epoch_slot(out_dir, epoch_id)
    return slot if os.path.exists(os.path.join(slot, COMMIT_MARKER)) else None


def publish_epoch(df: DataFrame, out_dir: str, epoch_id: int) -> bool:
    """Append one epoch's rows to a per-epoch log, exactly once: a retry of
    a committed epoch is a no-op, and of two concurrent attempts only one
    rename lands (their content is identical by construction: same
    offsets, same inputs). Returns False when the epoch's slot was
    committed by another attempt, earlier or concurrent."""
    if committed_epoch(out_dir, epoch_id) is not None:
        return False
    return publish(
        out_dir,
        f"stage-{epoch_id}",
        lambda staged: df.write.mode("overwrite").parquet(staged),
        slot=_epoch_slot(out_dir, epoch_id),
    ) is not None


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
    gone: set[str] = set()
    for d in slots:
        if d.startswith("c"):
            with open(os.path.join(out_dir, d, COMPACT_MANIFEST)) as fh:
                gone.update(json.load(fh)["replaces"])
    return gone


def admitted_events(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """A per-epoch log's rows: union of committed epoch slots (``e…``)
    and consolidated slots (``c…``), minus slots a committed consolidation
    replaced. Uncommitted (crashed) slots are invisible, so readers see
    each row exactly once — before, during, and after compaction.

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
    story of the per-epoch log at 100 TB (one slot per micro-batch,
    thousands per day), closed the way the bucketed state closes it
    (ingest.compact_state), while preserving the reader contract above.

    Protocol: read the union of every committed slot older than the
    newest ``keep_last`` epoch slots (the hot tail stays; Spark can only
    replay the latest unacknowledged epoch, so compacted epochs are
    beyond replay reach and :func:`publish_epoch`'s committed-slot check
    never needs the deleted dirs), stage consolidated parquet + a manifest
    naming every replaced slot (transitively), and :func:`publish` into
    the ``c<first>-<last>`` slot. Replaced slots are deleted only AFTER
    the publish; a crash between leaves duplicates on disk that readers
    already ignore (the manifest wins) and the next compaction garbage-
    collects. Returns False when there is nothing to compact or another
    compactor holds the lock.

    Mutual exclusion: the slot-name CAS alone cannot defend two compactors
    that listed DIFFERENT candidate sets (both would commit overlapping
    consolidations and double-count rows), so the whole operation runs
    under a kernel-arbitrated ``flock`` on ``.compact-lock``: a crashed
    holder's lock releases the instant its process dies, a live holder
    can never be stolen from, and contenders fail the non-blocking
    acquire atomically. Any failure to open or acquire the lock returns
    False.

    Scope caveat: flock arbitrates within one kernel (and over NFSv4,
    which maps it to byte-range locks); on mounts where BSD flock is
    per-host-emulated (NFSv3) CROSS-HOST compactors are not excluded.
    A multi-host deployment therefore schedules compaction as a singleton
    job — which is also the only sane shape at 100 TB (compaction is
    maintenance, not a per-writer side effect).
    """
    import fcntl

    if not os.path.isdir(out_dir):
        return False
    try:
        fd = os.open(os.path.join(out_dir, ".compact-lock"), os.O_CREAT | os.O_RDWR, 0o644)
    except OSError:
        return False
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return False  # live concurrent compactor
    try:
        return _compact_epoch_log_locked(spark, out_dir, keep_last)
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _compact_epoch_log_locked(spark: SparkSession, out_dir: str, keep_last: int) -> bool:
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

    def write(staged: str) -> None:
        spark.read.parquet(
            *[os.path.join(out_dir, d) for d in candidates]
        ).write.mode("overwrite").parquet(staged)
        with open(os.path.join(staged, COMPACT_MANIFEST), "w") as fh:
            json.dump({"replaces": replaces}, fh)

    if publish(out_dir, "compact", write, slot=os.path.join(out_dir, f"c{lo:09d}-{hi:09d}")) is None:
        return False
    for d in candidates:
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    return True
