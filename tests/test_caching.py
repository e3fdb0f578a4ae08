"""Cache-discipline contract (r19 item 9): after release_all at a query
boundary the session holds ZERO lingering cached RDDs, including
localCheckpoint blocks that clearCache alone leaves pinned."""

from __future__ import annotations

from pasardassist_spark.caching import lingering_rdds, release_all


def test_release_drops_persisted_and_checkpointed(spark):
    """The test owns its precondition: one frame it persists and one it
    localCheckpoints (the two pinning kinds operators leave behind), not a
    registered query whose internals could stop pinning either."""
    release_all(spark)  # clean slate regardless of fixture history
    persisted = spark.range(1000).persist()
    persisted.count()
    checkpointed = spark.range(1000).localCheckpoint(eager=True)
    assert lingering_rdds(spark) == 2
    release_all(spark)
    assert lingering_rdds(spark) == 0
    del persisted, checkpointed


def test_clearcache_alone_leaves_checkpoint_blocks(spark):
    """Documents WHY release_all exists: catalog.clearCache does not
    touch localCheckpoint block RDDs."""
    release_all(spark)
    df = spark.range(1000).localCheckpoint(eager=True)
    assert lingering_rdds(spark) == 1
    spark.catalog.clearCache()
    assert lingering_rdds(spark) == 1  # still pinned
    assert release_all(spark) == 1
    assert lingering_rdds(spark) == 0
    del df
