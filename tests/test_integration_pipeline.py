"""Integration: the custom blocklog source feeds a maintained-state
monitor through a restart — the pieces built this round compose into the
reference's actual topology (paged chain scan → incremental gold state)
with checkpointed recovery across the source/sink boundary."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from pasardassist_spark.sources.blocklog import (
    BlockLogDataSource,
    write_block_page,
)
from pasardassist_spark.streaming.generations import start_epochs
from pasardassist_spark.streaming.hll import (
    apply_hll_batch,
    distinct_counts_from_state,
)


def _events(lo, hi):
    # address reuse across blocks: distinct-count != event-count
    return [
        {
            "block_number": b,
            "log_index": i,
            "event_type": "sale" if (b + i) % 3 else "bid",
            "address": f"0x{(b * 7 + i) % 40:04x}",
            "payload": {},
        }
        for b in range(lo, hi)
        for i in range(2)
    ]


def test_blocklog_feeds_distinct_monitor_across_restart(spark, tmp_path):
    store = str(tmp_path / "chain")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    write_block_page(store, 0, 60, _events(0, 60))
    spark.dataSource.register(BlockLogDataSource)

    def start():
        stream = (
            spark.readStream.format("blocklog")
            .option("path", store)
            .option("step", 25)
            .load()
        )
        return start_epochs(stream, ckpt, partial(
            apply_hll_batch, state_dir=state, keys=["event_type"],
            value_col="address",
        ))

    q = start()
    q.processAllAvailable()
    q.stop()

    # more blocks land while the pipeline is down; restart resumes from
    # the checkpointed block offset, state picks up only the new pages
    write_block_page(store, 60, 90, _events(60, 90))
    q = start()
    q.processAllAvailable()
    q.stop()

    got = {
        r.event_type: (r.est_distinct, r.n_events)
        for r in distinct_counts_from_state(spark, state).collect()
    }
    rows = [(e["event_type"], e["address"]) for e in _events(0, 90)]
    import collections

    exact = collections.defaultdict(set)
    n = collections.Counter()
    for etype, addr in rows:
        exact[etype].add(addr)
        n[etype] += 1
    assert set(got) == set(exact)
    for etype, (est, n_events) in got.items():
        assert n_events == n[etype], (etype, n_events, n[etype])  # exactly-once
        assert abs(est - len(exact[etype])) <= max(2, 0.05 * len(exact[etype]))
