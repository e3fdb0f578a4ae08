"""State-machine fold tests: associativity (fold(all) == fold(chunks) merged),
streaming convergence, and the reference-domain order/token folds."""

from __future__ import annotations

import os
from decimal import Decimal as D
from functools import partial

from pyspark.sql import functions as F

from pasardassist_spark.api.schemas import ORDER_EVENTS_SCHEMA, TOKEN_EVENTS_SCHEMA
from pasardassist_spark.functions.chain import BURN_ADDRESS
from pasardassist_spark.operators.fold import (
    fold_entity_state,
    fold_order_state,
    fold_token_ownership,
    merge_entity_states,
)
from pasardassist_spark.tables import load


def _canon(df):
    return sorted(map(str, df.select(*sorted(df.columns)).collect()))


def test_fold_is_associative(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    full = fold_entity_state(ev)
    a = fold_entity_state(ev.filter(F.col("event_id") % 3 == 0))
    b = fold_entity_state(ev.filter(F.col("event_id") % 3 == 1))
    c = fold_entity_state(ev.filter(F.col("event_id") % 3 == 2))
    merged = merge_entity_states(merge_entity_states(a, b), c)
    assert _canon(full) == _canon(merged)
    # and in the other association order
    merged2 = merge_entity_states(a, merge_entity_states(b, c))
    assert _canon(full) == _canon(merged2)


def test_streaming_entity_fold_equals_batch(spark, sf_dir, tmp_path):
    from pasardassist_spark.streaming import (
        apply_entity_batch,
        read_event_stream,
        read_state,
        start_epochs,
    )

    ev = load(spark, sf_dir, "events")
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = raw.orderBy("event_id").collect()
    third = len(rows) // 3 + 1
    for i in range(3):
        part = rows[i * third : (i + 1) * third]
        if part:
            staging = str(tmp_path / f"stage{i}")
            spark.createDataFrame(part, raw.schema).coalesce(1).write.parquet(staging)
            (pq,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
            os.rename(os.path.join(staging, pq), os.path.join(src, f"p{i}.parquet"))

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_entity_batch, state_dir=str(tmp_path / "state")
    ))
    q.processAllAvailable()
    q.stop()
    got = read_state(spark, str(tmp_path / "state"))
    want = fold_entity_state(ev)
    assert _canon(got) == _canon(want)


def test_order_state_machine(spark):
    # kinds: 0 ForAuction 1 Bid 2 ForSale 3 Filled 4 Cancelled 5 PriceChanged
    rows = [
        # order 7: ForSale @b1 p10 -> Bid @b2 12 -> PriceChanged @b3 8 -> Filled @b4 8
        ("ela", "c", 1, "0x1", 7, "1", "s", None, None, D(10), 2, 1, 100),
        ("ela", "c", 2, "0x2", 7, "1", "s", "b1", None, D(12), 1, 1, 200),
        ("ela", "c", 3, "0x3", 7, "1", "s", None, None, D(8), 5, 1, 300),
        ("ela", "c", 4, "0x4", 7, "1", "s", "b2", None, D(8), 3, 1, 400),
        # order 8: ForAuction -> Bid -> Cancelled
        ("ela", "c", 1, "0x5", 8, "2", "s", None, None, D(5), 0, 1, 100),
        ("ela", "c", 2, "0x6", 8, "2", "s", "b3", None, D(6), 1, 1, 200),
        ("ela", "c", 5, "0x7", 8, "2", "s", None, None, None, 4, 1, 500),
    ]
    oe = spark.createDataFrame(rows, ORDER_EVENTS_SCHEMA)
    got = {r.orderId: r for r in fold_order_state(oe).collect()}
    o7 = got[7]
    assert o7.orderState == 2 and o7.filled == D(8) and o7.buyerAddr == "b2"
    assert o7.price == D(8) and o7.bids == 1 and o7.lastBid == D(12)
    assert o7.lastBidder == "b1"
    assert (o7.createTime, o7.updateTime) == (100, 400)
    o8 = got[8]
    assert o8.orderState == 3 and o8.filled is None
    assert o8.price == D(5) and o8.bids == 1 and o8.lastBidder == "b3"


def test_token_ownership_fold(spark):
    rows = [
        # token 1: mint -> transfer -> burn
        ("ela", "c", 1, "0xa", BURN_ADDRESS, "alice", "1", None, 1, 1, 100),
        ("ela", "c", 2, "0xb", "alice", "bob", "1", None, 1, 1, 200),
        ("ela", "c", 3, "0xc", "bob", BURN_ADDRESS, "1", None, 1, 1, 300),
        # token 2: mint only
        ("ela", "c", 1, "0xd", BURN_ADDRESS, "carol", "2", None, 1, 1, 100),
    ]
    te = spark.createDataFrame(rows, TOKEN_EVENTS_SCHEMA)
    got = {r.tokenId: r for r in fold_token_ownership(te, BURN_ADDRESS).collect()}
    t1 = got["1"]
    assert t1.tokenOwner == BURN_ADDRESS and t1.is_burned
    assert t1.tokenMinter == "alice" and t1.n_transfers == 3 and t1.prev_owner == "bob"
    t2 = got["2"]
    assert t2.tokenOwner == "carol" and not t2.is_burned and t2.tokenMinter == "carol"


def test_streaming_entity_state_replayed_epoch_counts_once(spark, sf_dir, tmp_path):
    """A restart after the checkpoint lost its last commit makes Spark
    replay that epoch; the additive counters (n_clicks, total_purchase)
    must not count it twice."""
    from pasardassist_spark.streaming import (
        apply_entity_batch,
        read_event_stream,
        read_state,
        start_epochs,
    )

    ev = load(spark, sf_dir, "events")
    raw = ev.withColumn("ts", F.expr("unix_micros(ts) * CAST(1000 AS BIGINT)"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = raw.orderBy("event_id").collect()
    third = len(rows) // 3 + 1
    for i in range(3):
        staging = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows[i * third : (i + 1) * third], raw.schema).coalesce(
            1
        ).write.parquet(staging)
        (pq,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
        os.rename(os.path.join(staging, pq), os.path.join(src, f"p{i}.parquet"))

    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def drain():
        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        q = start_epochs(stream, ckpt, partial(apply_entity_batch, state_dir=state))
        q.processAllAvailable()
        q.stop()

    drain()
    commits = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    assert last == "2"
    for f in (last, f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    drain()  # replays epoch 2 into a state that already holds it
    assert os.path.exists(os.path.join(commits, last))
    assert _canon(read_state(spark, state)) == _canon(fold_entity_state(ev))
