"""Query-boundary lifetimes: cached RDDs and scratch directories.

Several operators persist() decision-sized intermediates and several
iterative operators localCheckpoint() per round. Neither can unpersist
eagerly: the RETURNED plan still references the blocks, so releasing
them inside the operator would force a recompute (or, for
localCheckpoint, break the plan outright). Queries that write files
(connector roundtrips, stream replays, state-store readouts) are in the
same position: the returned frame reads them lazily. They write under
:func:`scratch_dir`, a fresh subdirectory of one per-process root.

The contract is therefore **caller-owns-lifetime**: the session owner
calls :func:`release_all` between independent queries, after the
terminal action of each query whose result it has fully consumed; it
drops the cached RDDs and removes the scratch directories. bench.py,
tools/full_sweep.py, tools/scale.py and perfbench do this between
entries; a long-lived session that never does accumulates both until it
exits, when one hook removes the root.

``spark.catalog.clearCache()`` alone is NOT enough: it evicts SQL-cache
entries (InMemoryRelations from persist()) but leaves localCheckpoint
block RDDs pinned (they are plain persisted RDDs, invisible to the SQL
cache manager). :func:`release_all` drops both; :func:`lingering_rdds`
is the audit readout a sweep can assert on (tests/test_caching.py and
tests/test_scratch.py pin the contract).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import SparkSession

_root: str | None = None
_scratch_dirs: list[str] = []


def scratch_root() -> str:
    """This process's scratch root in the temp directory, made on first
    use and removed at interpreter exit. Files that must outlive every
    query (the package zip) go here; a query's files go in a
    :func:`scratch_dir`."""
    global _root
    if _root is None:
        _root = tempfile.mkdtemp(prefix="pasard_scratch_")
        atexit.register(shutil.rmtree, _root, ignore_errors=True)
    return _root


def scratch_dir(prefix: str) -> str:
    """A fresh directory named ``prefix`` plus a random suffix under
    :func:`scratch_root`, removed by the next :func:`release_all`."""
    path = tempfile.mkdtemp(prefix=prefix, dir=scratch_root())
    _scratch_dirs.append(path)
    return path


def lingering_rdds(spark: SparkSession) -> int:
    """Number of RDDs currently pinned with a storage level in this
    session — SQL-cache relations AND localCheckpoint block RDDs."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_all(spark: SparkSession) -> int:
    """Release every cached/persisted RDD the session holds: clear the
    SQL cache, then unpersist any remaining persistent RDDs
    (localCheckpoint blocks). Then remove every :func:`scratch_dir`
    handed out since the last call. Returns the number of RDDs that were
    still pinned after clearCache (the localCheckpoint population).

    Safe ONLY at a query boundary: any DataFrame whose plan references a
    released localCheckpoint or a removed scratch directory cannot be
    executed again."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = jmap.size()
    for rdd in list(jmap.values()):
        rdd.unpersist(False)
    while _scratch_dirs:
        shutil.rmtree(_scratch_dirs.pop(), ignore_errors=True)
    return n
