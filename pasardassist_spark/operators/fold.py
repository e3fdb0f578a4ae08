"""Entity state machines as associative folds (SURVEY.md §2.9 ST4).

The reference maintains entity state with per-event Mongo mutations:

- order lifecycle Created -> {Filled, Cancelled} with price/bid mutations
  (tasks.service.ts:367-373,585-591: OrderForSale/OrderBid/OrderPriceChanged/
  OrderFilled/OrderCancelled each $set/$inc different fields);
- token ownership mint -> transfer* -> burn (sub-tasks.service.ts:81-93:
  tokenOwner follows the latest transfer's ``to``).

The Spark rebuild expresses each state machine as ONE aggregation whose
merge is ASSOCIATIVE — latest-wins fields are argmax by the total event
order (block/time, event id), counters are sums, extrema are min/max. That
buys three things at once:

- batch recompute = one shuffle (groupBy entity, conditional aggregates);
- streaming = the same fold per micro-batch, merged into bucketed state via
  ``merge_into_bucketed_state`` (``merge_entity_states`` over state ∪
  fold(batch) is the associative merge, so out-of-order arrival converges
  without a retry queue);
- replay-equals-batch testability: fold(all events) == fold(fold(chunk1) ⊕
  fold(chunk2)) by construction.

Latest-wins fields keep their argmax KEY (ts/block, id) in the state row —
that is what makes the fold mergeable after the fact; a bare "latest value"
column cannot be combined with a later delta.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

# Status-bearing event kinds for the generic entity fold over the driver's
# events table: the reference's order lifecycle mapped onto the testdata
# domain (signup=Created, purchase=Filled, error=Cancelled).
STATUS_EVENTS = ("signup", "purchase", "error")


def fold_entity_state(ev: DataFrame) -> DataFrame:
    """One-pass fold of raw events into per-user entity state.

    status        latest status-bearing event (argmax by ts, event_id)
    status_ts/eid the argmax key, kept so folds can merge
    n_clicks      additive counter ($inc analog)
    total_purchase decimal-exact conditional sum
    last_view_ts / first_seen   extrema
    """
    is_status = F.col("event_type").isin(*STATUS_EVENTS)
    key = F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by(F.when(is_status, F.col("event_type")), F.when(is_status, key)).alias(
            "status"
        ),
        F.max(F.when(is_status, F.col("ts"))).alias("status_ts"),
        F.max_by(F.when(is_status, F.col("event_id")), F.when(is_status, key)).alias(
            "status_eid"
        ),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_clicks"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value").cast("decimal(18,2)")
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        ).alias("total_purchase"),
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).alias("last_view_ts"),
        F.min("ts").alias("first_seen"),
    )


def merge_entity_states(*states: DataFrame) -> DataFrame:
    """Associative merge of entity-state frames (same schema). One frame
    is the state store's unary fold; two are the binary combine."""
    key = F.struct(F.col("status_ts").alias("ts"), F.col("status_eid").alias("event_id"))
    return reduce(DataFrame.unionByName, states).groupBy("user_id").agg(
        F.max_by(F.col("status"), key).alias("status"),
        F.max("status_ts").alias("status_ts"),
        F.max_by(F.col("status_eid"), key).alias("status_eid"),
        F.sum("n_clicks").alias("n_clicks"),
        F.sum("total_purchase").alias("total_purchase"),
        F.max("last_view_ts").alias("last_view_ts"),
        F.min("first_seen").alias("first_seen"),
    )


# --- reference-domain folds (fixture-schema tables) -------------------------


def fold_order_state(order_events: DataFrame) -> DataFrame:
    """The order state machine as one aggregation over order_events
    (ORDER_EVENTS_SCHEMA; kinds interfaces.ts:122-129).

    orderState: latest of ForSale/ForAuction(->1 Created), Filled(->2),
    Cancelled(->3) by (blockNumber, transactionHash); price: latest
    ForSale/ForAuction/PriceChanged price; bids/lastBid/lastBidder from Bid
    events; filled from the Filled event — each reference $set/$inc
    (tasks.service.ts:367-373,585-591) becomes a conditional aggregate.
    """
    key = F.struct(
        F.col("blockNumber").alias("b"), F.col("transactionHash").alias("t")
    )
    state_of = (
        F.when(F.col("eventType").isin(0, 2), 1)  # ForAuction/ForSale -> Created
        .when(F.col("eventType") == 3, 2)  # Filled
        .when(F.col("eventType") == 4, 3)  # Cancelled
    )
    is_state = F.col("eventType").isin(0, 2, 3, 4)
    is_price = F.col("eventType").isin(0, 2, 5)  # listing + PriceChanged
    is_bid = F.col("eventType") == 1
    return order_events.groupBy("chain", "orderId").agg(
        F.max_by(state_of, F.when(is_state, key)).alias("orderState"),
        F.max(F.when(is_state, F.col("blockNumber"))).alias("state_block"),
        F.max_by(F.when(is_price, F.col("price")), F.when(is_price, key)).alias("price"),
        F.max(F.when(is_price, F.col("blockNumber"))).alias("price_block"),
        F.sum(F.when(is_bid, 1).otherwise(0)).alias("bids"),
        F.max_by(F.when(is_bid, F.col("price")), F.when(is_bid, key)).alias("lastBid"),
        F.max(F.when(is_bid, F.col("blockNumber"))).alias("bid_block"),
        F.max_by(F.when(is_bid, F.col("buyer")), F.when(is_bid, key)).alias("lastBidder"),
        F.max_by(
            F.when(F.col("eventType") == 3, F.col("price")),
            F.when(F.col("eventType") == 3, key),
        ).alias("filled"),
        F.max_by(
            F.when(F.col("eventType") == 3, F.col("buyer")),
            F.when(F.col("eventType") == 3, key),
        ).alias("buyerAddr"),
        F.min("timestamp").alias("createTime"),
        F.max("timestamp").alias("updateTime"),
    )


def fold_token_ownership(token_events: DataFrame, burn_address: str) -> DataFrame:
    """Token ownership: owner follows the latest transfer's ``to``
    (sub-tasks.service.ts:81-93); burn is just a transfer to the burn
    address, surfaced as ``is_burned`` (the reference filters burned tokens
    out of counts, app.service.ts:2320-2349)."""
    key = F.struct(
        F.col("blockNumber").alias("b"), F.col("transactionHash").alias("t")
    )
    return token_events.groupBy("chain", "contract", "tokenId").agg(
        F.max_by(F.col("to"), key).alias("tokenOwner"),
        F.max("blockNumber").alias("owner_block"),
        F.max_by(F.col("from"), key).alias("prev_owner"),
        (F.max_by(F.col("to"), key) == burn_address).alias("is_burned"),
        F.min(F.when(F.col("from") == burn_address, F.col("to"))).alias("tokenMinter"),
        F.count(F.lit(1)).alias("n_transfers"),
    )
