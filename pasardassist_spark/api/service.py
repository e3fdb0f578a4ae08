"""The reference's query-API endpoint families as DataFrame builders.

Every function mirrors a family of app.service.ts endpoints; citations note
the primary site. The builders are pure: (entity DataFrames, DTO) -> lazy
DataFrame, so Catalyst owns optimization (predicate pushdown, broadcast
choice, limit-through-join) that the reference hand-rolled in JS
(SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pasardassist_spark.api import dto as D
from pasardassist_spark.api.schemas import (
    ORDER_EVENT_BID,
    ORDER_EVENT_NAMES,
    ORDER_EVENT_PRICE_CHANGED,
    ORDER_STATE_CREATED,
    ORDER_STATE_FILLED,
)
from pasardassist_spark.functions.chain import BURN_ADDRESS, classify_transfer
from pasardassist_spark.operators.latest import latest_per_key
from pasardassist_spark.operators.pagination import count_and_page

WEI_SCALE = 10**18  # ELA_ESC_PRECISION, src/constants.ts:5


def _to_wei(price: float | int | str):
    """User price units -> exact wei as a Decimal literal. Goes through
    decimal.Decimal(str(...)), never float multiplication: above 2^53 wei
    (~0.009 tokens) float math double-rounds and shifts rows across filter
    boundaries, defeating the DECIMAL(38,0) price schema. Returned as
    Decimal (not int) so Spark plans a DecimalType literal instead of an
    overflow-prone int64."""
    import decimal

    wei = (decimal.Decimal(str(price)) * WEI_SCALE).to_integral_value(decimal.ROUND_FLOOR)
    return F.lit(wei)


def _keyword_filter(keyword: str, *cols: Column | str) -> Column:
    """Case-insensitive substring match over any of ``cols`` (the
    reference's `$regex ... $options: 'i'` filters). The keyword goes
    through Spark's ``lower`` like the columns, so both sides use one
    case table (Python's ``str.lower`` is a newer Unicode than the
    JVM's); the literal is constant-folded, so it costs nothing per row."""
    kw = F.lower(F.lit(keyword))
    pred = F.lit(False)
    for c in cols:
        pred = pred | (F.instr(F.lower(F.col(c) if isinstance(c, str) else c), kw) > 0)
    return pred


def _order_recency() -> list[Column]:
    """Total order for "latest order per token" (SURVEY.md §7 tie-break)."""
    return [F.desc("createTime"), F.desc("blockNumber_ord"), F.desc("orderId")]


def _with_block_order(df: DataFrame) -> DataFrame:
    """blockNumber_ord for _order_recency(): the real blockNumber when the
    frame carries one, else a constant (fixtures without block columns fall
    back to the (createTime, orderId) tie-break)."""
    if "blockNumber" in df.columns:
        return df.withColumnRenamed("blockNumber", "blockNumber_ord")
    return df.withColumn("blockNumber_ord", F.lit(0))


def _chain_filter(chain: str | None) -> Column:
    """Chain aliasing: ELA queries include the V1 legacy marketplace
    (app.service.ts:543-545, 1693-1698)."""
    if chain is None:
        return F.lit(True)
    if chain == "ela":
        return F.col("chain").isin("ela", "v1")
    return F.col("chain") == chain


def _status_predicate(status: tuple[str, ...], now_s: int) -> Column:
    """BuyNow / OnAuction / HasEnded / HasBids tag composition
    (app.service.ts:611-625). Auction liveness compares endTime to the
    injected clock — normalized to seconds (the reference compares ms
    endTime to Date.now(), §1.2 hazard)."""
    tags = {
        D.STATUS_BUY_NOW: F.col("orderType") == 1,
        D.STATUS_ON_AUCTION: (F.col("orderType") == 2)
        & ((F.col("endTime") == 0) | (F.col("endTime") > now_s)),
        D.STATUS_HAS_ENDED: (F.col("orderType") == 2)
        & (F.col("endTime") != 0)
        & (F.col("endTime") <= now_s),
        D.STATUS_HAS_BIDS: (F.col("orderType") == 2) & (F.col("bids") > 0),
    }
    pred = F.lit(False)
    for s in status:
        pred = pred | tags[s]
    return pred


class PasarQueryService:
    """Holds the entity DataFrames (silver tables) and builds endpoint
    queries. At scale these frames come from bucketed tables; dims
    (collections, rates, did) get broadcast automatically by size."""

    def __init__(
        self,
        tokens: DataFrame,
        orders: DataFrame,
        token_events: DataFrame | None = None,
        order_events: DataFrame | None = None,
        rewards: DataFrame | None = None,
        did_profiles: DataFrame | None = None,
        collections: DataFrame | None = None,
        token_rates: DataFrame | None = None,
        token_prices: DataFrame | None = None,
        platform_addresses: tuple[str, ...] = (),
    ) -> None:
        self.tokens = tokens
        self.orders = orders
        self.token_events = token_events
        self.order_events = order_events
        self.rewards = rewards
        self.did_profiles = did_profiles
        self.collections = collections
        # (chain, token) -> rate dim (the reference's token_rates collection,
        # refreshed from price feeds — S6); always broadcast-sized.
        self.token_rates = token_rates
        # append-only platform price feed (the reference's tokens_price
        # collection, one row per feed tick); platform_price() reads its
        # latest row.
        self.token_prices = token_prices
        # marketplace contract addresses (getAllPasarAddress): transfers
        # to/from these are order mechanics, not user transfers.
        self.platform_addresses = platform_addresses

    @classmethod
    def from_lake(cls, spark, tokens: DataFrame, orders: DataFrame, **kw):
        """Construct the service preferring the prepared bucketed silver
        entity tables (sources/lake.prepare_entity_silver) over the given
        frames; falls back to the frames when no silver layout exists.

        This is the default production read path: tokens bucketed by
        (chain, contract) and orders by (chain, baseToken) make
        collection_stats — and everything built on it, collections_list
        included — plan with zero shuffle Exchange (test_api_silver.py)."""
        if spark.catalog.tableExists("silver_tokens"):
            tokens = spark.table("silver_tokens")
        if spark.catalog.tableExists("silver_orders"):
            orders = spark.table("silver_orders")
        return cls(tokens, orders, **kw)

    # -- marketplace (app.service.ts:604-757) -------------------------------
    def marketplace(self, q: D.MarketplaceQuery) -> DataFrame:
        now_s = q.now_seconds if q.now_seconds is not None else 0
        o = self.orders.filter(F.col("orderState") == ORDER_STATE_CREATED)
        o = o.filter(_chain_filter(q.chain))
        if q.status:
            o = o.filter(_status_predicate(q.status, now_s))
        if q.collection:
            o = o.filter(
                F.concat_ws("-", "chain", "baseToken") == q.collection
            )  # $addFields concat key, app.service.ts:627-630
        if q.min_price is not None:
            o = o.filter(F.col("price") >= _to_wei(q.min_price))
        if q.max_price is not None:
            o = o.filter(F.col("price") <= _to_wei(q.max_price))

        t = self.tokens.select(
            F.col("uniqueKey").alias("t_uniqueKey"),
            F.col("name").alias("token_name"),
            F.col("description").alias("token_description"),
            F.col("adult").alias("token_adult"),
            F.col("createTime").alias("token_createTime"),
            F.col("data").alias("token_data"),
        )
        joined = o.join(t, o.uniqueKey == t.t_uniqueKey, "left").drop("t_uniqueKey")

        # post-join token filters (J7, app.service.ts:651-670)
        if q.keyword:
            joined = joined.filter(
                _keyword_filter(q.keyword, "token_name", "token_description")
            )
        if q.adult is not None:
            joined = joined.filter(F.coalesce(F.col("token_adult"), F.lit(False)) == q.adult)

        order_by = {
            "createTime": [F.desc("createTime"), F.desc("orderId")],
            "price_asc": [F.asc("price"), F.desc("orderId")],
            "price_desc": [F.desc("price"), F.desc("orderId")],
            "endTime": [F.asc("endTime"), F.desc("orderId")],
            "token_createTime": [F.desc("token_createTime"), F.desc("orderId")],
        }[q.sort]
        # count+page in ONE pass; the reference's paginationFirst heuristic
        # (app.service.ts:728-748) is subsumed by Catalyst limit pushdown.
        return count_and_page(joined, order_by, q.page.page_num, q.page.page_size)

    # -- collectibles by wallet (×5 endpoints, app.service.ts:759-965) ------
    def collectibles_by_wallet(self, q: D.WalletQuery, mode: str = "owned") -> DataFrame:
        t = self.tokens.filter(_chain_filter(q.chain))
        if mode == "owned":
            base = t.filter(F.col("tokenOwner") == q.wallet)
        elif mode == "minted":
            base = t.filter(F.col("tokenMinter") == q.wallet)
        elif mode == "listed":
            latest = latest_per_key(
                _with_block_order(self.orders),
                ["uniqueKey"],
                _order_recency(),
            )
            listed = latest.filter(
                (F.col("orderState") == ORDER_STATE_CREATED)
                & (F.col("sellerAddr") == q.wallet)
            ).select(
                F.col("uniqueKey").alias("uk"),
                F.col("orderId").alias("listed_orderId"),
                F.col("price").alias("listed_price"),
            )
            base = t.join(listed, t.uniqueKey == listed.uk).drop("uk")
        elif mode == "sold":
            sold = self.orders.filter(
                (F.col("orderState") == ORDER_STATE_FILLED)
                & (F.col("sellerAddr") == q.wallet)
            ).select(
                F.col("uniqueKey").alias("uk"),
                F.col("orderId").alias("sold_orderId"),
                F.col("filled").alias("sold_price"),
            )
            base = t.join(sold, t.uniqueKey == sold.uk).drop("uk")
        else:
            raise ValueError(f"unknown mode {mode!r}")
        if q.keyword:
            base = base.filter(_keyword_filter(q.keyword, "name", "description"))
        return count_and_page(
            base,
            [F.desc("createTime"), F.desc("tokenId"), F.asc("uniqueKey")],
            q.page.page_num,
            q.page.page_size,
        )

    # -- transactions timeline (app.service.ts:966-1007, 2209-2250) ---------
    def _classified_events(self) -> tuple[DataFrame, DataFrame]:
        """(order_events, token_events) projected to the shared transaction
        shape: chain/txhash/tokenId/uniqueKey/event/value/addr_from/addr_to/
        gasFee/timestamp — the one classification both listTransactions and
        listTransactionsOfUser build on."""
        ev_name = F.lit(None).cast("string")
        for code, name in sorted(ORDER_EVENT_NAMES.items(), reverse=True):
            ev_name = F.when(F.col("eventType") == code, name).otherwise(ev_name)
        oe = self.order_events.select(
            "chain",
            "transactionHash",
            F.col("tokenId"),
            F.concat_ws("-", "chain", "baseToken", "tokenId").alias("uniqueKey"),
            ev_name.alias("event"),
            F.col("price").cast("double").alias("value"),
            F.col("seller").alias("addr_from"),
            F.col("buyer").alias("addr_to"),
            "gasFee",
            "timestamp",
        )
        te = self.token_events.select(
            "chain",
            "transactionHash",
            F.col("tokenId"),
            F.concat_ws("-", "chain", "contract", "tokenId").alias("uniqueKey"),
            classify_transfer(F.col("from"), F.col("to")).alias("event"),
            F.col("value").cast("double").alias("value"),
            F.col("from").alias("addr_from"),
            F.col("to").alias("addr_to"),
            "gasFee",
            "timestamp",
        )
        return oe, te

    def transactions(self, q: D.TransactionQuery) -> DataFrame:
        """U1 + event classification: order events named via the CASE map,
        token events classified Mint/Burn/SafeTransferFrom, merged, re-sorted
        globally, paged."""
        oe, te = self._classified_events()
        merged = oe.unionByName(te)
        if q.unique_key:
            # getTransHistoryByTokenId (app.service.ts:241-274) filters by
            # bare tokenId — NOT unique across chains/contracts, so two
            # unrelated tokens' histories merge. We filter by the composite
            # uniqueKey ("chain-contract-tokenId") instead.
            merged = merged.filter(F.col("uniqueKey") == q.unique_key)
        if q.wallet:
            merged = merged.filter(
                (F.col("addr_from") == q.wallet) | (F.col("addr_to") == q.wallet)
            )
        if q.event_types:
            merged = merged.filter(F.col("event").isin(*q.event_types))
        return count_and_page(
            merged,
            [F.desc("timestamp"), F.asc("transactionHash"), F.asc("event")],
            q.page.page_num,
            q.page.page_size,
        )

    # -- quick search (app.service.ts:1288-1310) ----------------------------
    def quick_search(self, keyword: str, k: int = 3) -> DataFrame:
        return (
            self.tokens.filter(
                _keyword_filter(keyword, "name", "description", "creator.name")
            )
            .orderBy(F.desc("createTime"), F.desc("tokenId"))
            .limit(k)
        )

    # -- search variants (app.controller.ts:208-217) -------------------------
    def _token_search_predicate(self, keyword: str) -> Column:
        """The searchTokens $or (app.service.ts:1369-1380): exact id/address
        hits plus case-insensitive substring over names/descriptions."""
        return (
            (F.col("royaltyOwner") == keyword)
            | (F.col("tokenId") == keyword)
            | (F.col("tokenIdHex") == keyword)
            | (F.col("tokenOwner") == keyword)
            | _keyword_filter(
                keyword, "name", "description", "creator.name", "creator.description"
            )
        )

    def search_tokens(self, keyword: str) -> DataFrame:
        """searchTokens (app.service.ts:1366-1384): the full-projection token
        search — same predicate family as quick_search, no limit, ordered
        for a stable page."""
        return self.tokens.filter(self._token_search_predicate(keyword)).orderBy(
            F.desc("createTime"), F.desc("tokenId"), F.asc("uniqueKey")
        )

    def search_marketplace(self, keyword: str) -> DataFrame:
        """searchMarketplace (app.service.ts:1386-1460): two branches unioned
        — (A) matching tokens whose LATEST order is Created (J3 keystone:
        latest_per_key then join, never the lookup sub-pipeline's
        global-dedup round trip), and (B) Created orders whose seller
        matches (exact address, or resolved profile name when the DID dim is
        loaded — the reference's denormalized sellerInfo.name), each carrying
        both order and token columns. One lazy plan replaces the reference's
        two aggregates + Node-side concat."""
        latest = latest_per_key(
            _with_block_order(self.orders), ["uniqueKey"], _order_recency()
        )
        o_cols = [
            F.col("orderId"), F.col("chain").alias("order_chain"),
            F.col("uniqueKey"), F.col("orderType"), F.col("orderState"),
            F.col("price"), F.col("sellerAddr"), F.col("createTime").alias("order_createTime"),
        ]
        t = self.tokens.select(
            F.col("uniqueKey").alias("t_uniqueKey"),
            F.col("name").alias("token_name"),
            F.col("tokenId").alias("token_tokenId"),
            F.col("tokenOwner").alias("token_owner"),
            F.col("createTime").alias("token_createTime"),
        )
        # branch A: token matches with their latest order, kept if on sale
        a = (
            self.tokens.filter(self._token_search_predicate(keyword))
            .select("uniqueKey", "name", "tokenId", "tokenOwner", "createTime")
            .join(
                latest.select(*o_cols).withColumnRenamed("uniqueKey", "o_uniqueKey"),
                F.col("uniqueKey") == F.col("o_uniqueKey"),
                "left",
            )
            .filter(F.col("orderState") == ORDER_STATE_CREATED)
            .select(
                "orderId", "order_chain", "uniqueKey", "orderType", "orderState",
                "price", "sellerAddr", "order_createTime",
                F.col("name").alias("token_name"),
                F.col("tokenId").alias("token_tokenId"),
                F.col("tokenOwner").alias("token_owner"),
                F.col("createTime").alias("token_createTime"),
                F.lit("token_match").alias("matched_by"),
            )
        )
        # branch B: created orders by matching seller, token attached
        created = self.orders.filter(F.col("orderState") == ORDER_STATE_CREATED)
        seller_pred = F.col("sellerAddr") == keyword
        if self.did_profiles is not None:
            prof = self.did_profiles.select(
                F.col("address").alias("p_address"),
                F.col("name").alias("p_name"),
                F.col("description").alias("p_description"),
            )
            created = created.join(
                F.broadcast(prof), F.col("sellerAddr") == F.col("p_address"), "left"
            )
            seller_pred = seller_pred | _keyword_filter(
                keyword, "p_name", "p_description"
            )
        b = (
            created.filter(seller_pred)
            .select(*o_cols)
            .join(t, F.col("uniqueKey") == F.col("t_uniqueKey"), "left")
            .select(
                "orderId", "order_chain", "uniqueKey", "orderType", "orderState",
                "price", "sellerAddr", "order_createTime",
                "token_name", "token_tokenId", "token_owner", "token_createTime",
                F.lit("seller_match").alias("matched_by"),
            )
        )
        return a.unionByName(b).orderBy(
            F.desc("order_createTime"), F.desc("orderId"), F.asc("order_chain")
        )

    # -- V1 legacy market (app.service.ts:2394-2402) -------------------------
    def v1_market_by_wallet(self, wallet: str, k: int = 5) -> DataFrame:
        """getV1MarketNFTByWalletAddr: the wallet's live listings on the V1
        legacy marketplace only (chain == 'v1' exactly — NOT the usual
        ela->(ela,v1) aliasing; this endpoint is the V1-only complement),
        newest 5. The reference's bare find+limit gets an explicit total
        order so the page is deterministic."""
        return (
            self.orders.filter(
                (F.col("sellerAddr") == wallet)
                & (F.col("chain") == "v1")
                & (F.col("orderState") == ORDER_STATE_CREATED)
            )
            .orderBy(F.desc("createTime"), F.desc("orderId"))
            .limit(k)
        )

    # -- market sticker totals (app.service.ts:1938-1989) --------------------
    def market_totals(self) -> DataFrame:
        """getItems + getTransactions + getOwners + getTradingVolume as ONE
        single-row frame (items, transactions, owners, trading_volume) —
        the reference runs four endpoints, each a full collection pass;
        here each source table is aggregated once and the 1-row aggregates
        broadcast-crossed (the A12 dashboard pattern).

        Trading volume (app.service.ts:1963-1989): sum over FILLED orders of
        amount x price x quote-token rate / 1e18 — rate 1 when the quote
        token is absent/burn, else the (chain, token) rate dim row. The
        reference resolves rates in Node from a dict; here it is a broadcast
        join, and a missing rate row contributes 0 (the reference would
        throw on undefined — documented divergence)."""
        tok = self.tokens.agg(
            F.count(F.when(F.col("tokenOwner") != BURN_ADDRESS, 1)).alias("items"),
            F.count_distinct(
                F.when(F.col("tokenOwner") != BURN_ADDRESS, F.col("tokenOwner"))
            ).alias("owners"),
        )
        n_te = (
            self.token_events.agg(F.count(F.lit(1)).alias("n_te"))
            if self.token_events is not None
            else None
        )
        n_oe = (
            self.order_events.agg(F.count(F.lit(1)).alias("n_oe"))
            if self.order_events is not None
            else None
        )
        filled = self.orders.filter(F.col("orderState") == ORDER_STATE_FILLED)
        if self.token_rates is not None:
            r = self.token_rates.select(
                F.col("chain").alias("r_chain"),
                F.lower(F.col("token")).alias("r_token"),
                F.col("rate").alias("r_rate"),
            )
            filled = filled.join(
                F.broadcast(r),
                (F.col("chain") == F.col("r_chain"))
                & (F.lower(F.col("quoteToken")) == F.col("r_token")),
                "left",
            )
        else:
            filled = filled.withColumn("r_rate", F.lit(None).cast("double"))
        rate = F.when(
            F.col("quoteToken").isNull() | (F.col("quoteToken") == BURN_ADDRESS),
            F.lit(1.0),
        ).otherwise(F.col("r_rate"))
        amount = F.coalesce(F.col("amount"), F.lit(1))
        vol = filled.agg(
            F.coalesce(
                F.sum(amount * F.col("price").cast("double") * rate / F.lit(1e18)),
                F.lit(0.0),
            ).alias("trading_volume")
        )
        out = tok.crossJoin(F.broadcast(vol))  # 1-row x 1-row
        if n_te is not None:
            out = out.crossJoin(F.broadcast(n_te))
        else:
            out = out.withColumn("n_te", F.lit(0).cast("long"))
        if n_oe is not None:
            out = out.crossJoin(F.broadcast(n_oe))
        else:
            out = out.withColumn("n_oe", F.lit(0).cast("long"))
        return out.select(
            "items",
            (F.col("n_te") + F.col("n_oe")).alias("transactions"),
            "owners",
            "trading_volume",
        )

    # -- per-user statistics (app.service.ts:1999-2027) ----------------------
    def user_statistics(self, wallet: str) -> DataFrame:
        """getStatisticsOfUser: created / sold / purchased / transactions for
        one wallet — the reference's five countDocuments round trips as one
        frame of conditional counts (each source aggregated once)."""
        created = self.tokens.agg(
            F.count(F.when(F.col("royaltyOwner") == wallet, 1)).alias("created")
        )
        o = self.orders.agg(
            F.count(
                F.when(
                    (F.col("sellerAddr") == wallet)
                    & (F.col("orderState") == ORDER_STATE_FILLED),
                    1,
                )
            ).alias("sold"),
            F.count(
                F.when(
                    (F.col("buyerAddr") == wallet)
                    & (F.col("orderState") == ORDER_STATE_FILLED),
                    1,
                )
            ).alias("purchased"),
        )
        te = self.token_events.agg(
            F.count(
                F.when((F.col("from") == wallet) | (F.col("to") == wallet), 1)
            ).alias("n_te")
        )
        oe = self.order_events.agg(
            F.count(
                F.when(
                    ((F.col("buyer") == wallet) & (F.col("eventType") == ORDER_EVENT_BID))
                    | (
                        (F.col("seller") == wallet)
                        & (F.col("eventType") == ORDER_EVENT_PRICE_CHANGED)
                    ),
                    1,
                )
            ).alias("n_oe")
        )
        return (
            created.crossJoin(F.broadcast(o))
            .crossJoin(F.broadcast(te))
            .crossJoin(F.broadcast(oe))
            .select(
                "created",
                "sold",
                "purchased",
                (F.col("n_te") + F.col("n_oe")).alias("transactions"),
            )
        )

    # -- user transaction history (app.service.ts:2028-2258) -----------------
    def transactions_of_user(
        self,
        wallet: str,
        page: D.PageArgs,
        event_types: tuple[str, ...] = (),
        keyword: str = "",
        newest_first: bool = True,
    ) -> DataFrame:
        """listTransactionsOfUser: the user's order events (buyer or seller)
        unioned with their token transfers, EXCLUDING transfers whose
        counterparty is a marketplace contract or the burn address
        (app.service.ts:2032-2042 — those are order mechanics surfaced via
        the order event) — then event-type filter, keyword filter on the
        token id/hash, one global re-sort, count+page in one pass."""
        oe, te = self._classified_events()
        internal = list(self.platform_addresses) + [BURN_ADDRESS]
        te = te.filter(
            ((F.col("addr_from") == wallet) & ~F.col("addr_to").isin(internal))
            | ((F.col("addr_to") == wallet) & ~F.col("addr_from").isin(internal))
        )
        oe = oe.filter((F.col("addr_from") == wallet) | (F.col("addr_to") == wallet))
        merged = oe.unionByName(te)
        if event_types:
            merged = merged.filter(F.col("event").isin(*event_types))
        if keyword:
            merged = merged.filter(
                (F.col("tokenId") == keyword)
                | (F.col("transactionHash") == keyword)
                | _keyword_filter(keyword, "uniqueKey")
            )
        ts = F.desc("timestamp") if newest_first else F.asc("timestamp")
        return count_and_page(
            merged,
            [ts, F.asc("transactionHash"), F.asc("event")],
            page.page_num,
            page.page_size,
        )

    # -- incomes (app.service.ts:2259-2266) ----------------------------------
    def incomes_of_user(self, wallet: str, role: str) -> DataFrame:
        """getIncomesOfUser: the reference reads the task-maintained
        user_income_records table; the Spark-first form derives the same
        rows on demand from the earnings fold (earnings_list) filtered to
        one role ('seller' -> sale incomes, 'royalty' -> royalty incomes).
        At scale this is the view you materialize instead of maintaining a
        side table row-at-a-time."""
        if role not in ("seller", "royalty"):
            raise ValueError(f"role must be 'seller' or 'royalty', got {role!r}")
        return self.earnings_list(wallet).filter(F.col("role") == role)

    # -- plain listings (app.service.ts:779-793, 413-500) --------------------
    def list_nfts(self, page: D.PageArgs, newest_first: bool = True) -> DataFrame:
        """listNFTs: every non-burned token, time-ordered, count+page in one
        pass (the reference issues a countDocuments plus a find)."""
        ts = F.desc("createTime") if newest_first else F.asc("createTime")
        return count_and_page(
            self.tokens.filter(F.col("tokenOwner") != BURN_ADDRESS),
            [ts, F.desc("tokenId"), F.asc("uniqueKey")],
            page.page_num,
            page.page_size,
        )

    def list_collectibles(
        self, page: D.PageArgs, types: tuple[str, ...] = (), after: int = 0
    ) -> DataFrame:
        """listCollectibles: a feed of recent marketplace activity — listed
        (Created orders) and/or sold (Filled orders) and/or minted (tokens),
        each branch optionally time-gated (createTime > after), unioned into
        one ordered page with a source tag. Empty ``types`` = listed+sold
        (the reference's default branch, app.service.ts:419-424)."""
        want = set(types) if types else {"listed", "sold"}
        unknown = want - {"listed", "sold", "minted"}
        if unknown:
            raise ValueError(f"unknown collectible types: {sorted(unknown)}")
        states = []
        if "listed" in want:
            states.append(ORDER_STATE_CREATED)
        if "sold" in want:
            states.append(ORDER_STATE_FILLED)
        branches = []
        if states:
            o = self.orders.filter(F.col("orderState").isin(states))
            if after > 0:
                o = o.filter(F.col("createTime") > after)
            branches.append(
                o.select(
                    "chain",
                    "uniqueKey",
                    F.col("tokenId"),
                    F.col("createTime"),
                    F.when(
                        F.col("orderState") == ORDER_STATE_CREATED, "listed"
                    ).otherwise("sold").alias("source"),
                )
            )
        if "minted" in want:
            t = self.tokens
            if after > 0:
                t = t.filter(F.col("createTime") > after)
            branches.append(
                t.select(
                    "chain",
                    "uniqueKey",
                    F.col("tokenId"),
                    F.col("createTime"),
                    F.lit("minted").alias("source"),
                )
            )
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return count_and_page(
            out,
            [F.desc("createTime"), F.asc("uniqueKey"), F.asc("source")],
            page.page_num,
            page.page_size,
        )

    # -- token + latest order lookup (app.service.ts:149-202) ----------------
    def token_order_by_token_id(self, token_id: str) -> DataFrame:
        """getTokenOrderByTokenId: the token row, its mint transaction hash
        (latest from==burn token_event by block), and its latest order —
        two argmax lookups + broadcast joins instead of the reference's
        nested $lookup sub-pipelines. Matches on bare tokenId exactly like
        the reference (its documented cross-chain collision included —
        use token_detail for the collision-safe form)."""
        t = self.tokens.filter(F.col("tokenId") == token_id)
        mint = (
            latest_per_key(
                self.token_events.filter(
                    (F.col("tokenId") == token_id) & (F.col("from") == BURN_ADDRESS)
                ).withColumn("blockNumber_ord", F.col("blockNumber")),
                ["tokenId"],
                [F.desc("blockNumber_ord"), F.asc("transactionHash")],
            ).select(
                F.col("tokenId").alias("m_tokenId"),
                F.col("transactionHash").alias("mint_transactionHash"),
            )
            if self.token_events is not None
            else None
        )
        latest = latest_per_key(
            _with_block_order(self.orders.filter(F.col("tokenId") == token_id)),
            ["tokenId"],
            _order_recency(),
        ).select(
            F.col("tokenId").alias("o_tokenId"),
            F.col("orderId").alias("latest_orderId"),
            F.col("orderState").alias("latest_orderState"),
            F.col("price").alias("latest_price"),
        )
        out = t
        if mint is not None:
            out = out.join(F.broadcast(mint), t.tokenId == mint.m_tokenId, "left").drop(
                "m_tokenId"
            )
        return out.join(
            F.broadcast(latest), F.col("tokenId") == F.col("o_tokenId"), "left"
        ).drop("o_tokenId")

    # -- collection attribute histogram (app.service.ts:2377-2393) -----------
    def attributes_of_collection(self, chain: str, collection: str) -> DataFrame:
        """getAttributesOfCollection: (key, value) -> count over a
        collection's token attributes. The reference maintains a
        collection_attributes side table incrementally per mint
        (tasks.common.ts:42-72); the Spark-first form derives it
        declaratively — explode the attribute map, one groupBy — and is the
        job that would materialize that table."""
        return (
            self.tokens.filter(
                (F.col("chain") == chain) & (F.col("contract") == collection)
            )
            .select(F.explode("attributes").alias("key", "value"))
            .groupBy("key", "value")
            .agg(F.count(F.lit(1)).alias("count"))
        )

    # -- quoted token rates (app.service.ts:2404-2412) -----------------------
    def quoted_tokens_rate(self, chain: str | None = None) -> DataFrame:
        """getQuotedTokensRate: the (chain, token) -> rate dim, optionally
        chain-filtered; ordered for a stable listing."""
        if self.token_rates is None:
            raise ValueError("token_rates frame not loaded")
        r = self.token_rates
        if chain:
            r = r.filter(F.col("chain") == chain)
        return r.orderBy("chain", "token")

    # -- latest platform price (app.controller.ts:28-38, GET /price and
    # -- /feeds/api/v1/price; app.service.ts:40-44) ---------------------------
    def platform_price(self) -> DataFrame:
        """getPrice: the single most recent row of the tokens_price feed —
        the reference's `findOne({}, {sort: {timestamp: -1}})`. Spark
        form: global top-1 via orderBy().limit(1), which plans
        TakeOrderedAndProject — per-partition top-1 merged on the driver,
        O(partitions) rows moved, never a whole-feed single-task window
        (the constant-key latest_per_key form compiles to exactly that
        unpartitioned WindowExec; plan pinned in tests/test_api.py).
        Deterministic under equal timestamps via the token tie-break."""
        if self.token_prices is None:
            raise ValueError("token_prices frame not loaded")
        order = [F.desc("timestamp")]
        if "token" in self.token_prices.columns:
            order.append(F.asc("token"))
        return self.token_prices.orderBy(*order).limit(1)

    # -- marketplace order detail (app.controller.ts:103-110,
    # -- app.service.ts:759-777) ----------------------------------------------
    def collectible_of_marketplace(self, chain: str, order_id: int) -> DataFrame:
        """getCollectibleOfMarketplace: the single marketplace order keyed
        by (chain, orderId), with its token embedded — the reference's
        $match + $lookup(tokens by uniqueKey) + preserve-null $unwind.

        Spark shape: the (chain, orderId) point filter pushes to the
        orders scan (partition/row-group pruning at scale); the tokens
        side is first SEMI-narrowed by the matched order's uniqueKey (a
        broadcast left-semi — the huge fact is never shuffled), and the
        resulting <=1-row token frame broadcast-LEFT-joins back so a
        missing token still yields the order row (the preserveNull
        semantics). Token columns are prefixed ``token_`` (the $unwind
        subdocument flattened)."""
        o = self.orders.filter(
            (F.col("chain") == chain) & (F.col("orderId") == order_id)
        )
        tok = self.tokens.select(
            *[F.col(c).alias(f"token_{c}") for c in self.tokens.columns]
        )
        tok_matched = tok.join(
            F.broadcast(o.select(F.col("uniqueKey").alias("_uk"))),
            tok.token_uniqueKey == F.col("_uk"),
            "left_semi",
        )
        return o.join(
            F.broadcast(tok_matched),
            o.uniqueKey == tok_matched.token_uniqueKey,
            "left",
        )

    # -- collection statistics (tasks.common.ts:124-154 / §3.3) -------------
    def collection_stats(self) -> DataFrame:
        """One shuffle replaces 4 queries/collection x N collections."""
        tok = self.tokens.groupBy("chain", "contract").agg(
            F.count(F.lit(1)).alias("items"),
            F.countDistinct("tokenOwner").alias("owners"),
        )
        orD = self.orders.groupBy("chain", F.col("baseToken").alias("contract")).agg(
            F.sum(F.when(F.col("orderState") == ORDER_STATE_FILLED, F.col("filled")))
            .alias("tradeVolume"),
            F.min(
                F.when(F.col("orderState") == ORDER_STATE_CREATED, F.col("price"))
            ).alias("lowestPrice"),
        )
        return tok.join(orD, ["chain", "contract"], "left")

    # -- earnings (app.service.ts:276-341) -----------------------------------
    def earnings(self, wallet: str, today_start_s: int | None = None) -> DataFrame:
        """Seller + royalty income totals: the aggregate form of the same
        per-order CASE fold as `earnings_list` (the reference computes both
        from one query, app.service.ts:322-339)."""
        rows = self.earnings_list(wallet, page=None, today_start_s=today_start_s)
        return (
            rows.withColumn(
                "income_type",
                F.when(F.col("role") == "seller", "sale").otherwise("royalty"),
            )
            .groupBy("income_type")
            .agg(F.sum("income").alias("total_income"))
        )

    # -- earnings list (app.service.ts:276-341, isReturnList form) -----------
    def earnings_list(
        self,
        wallet: str,
        page: D.PageArgs | None = None,
        today_start_s: int | None = None,
    ) -> DataFrame:
        """getEarnedListByAddress: the ROW-LEVEL earnings view — each filled
        order involving the wallet (as seller or royalty owner) with its
        computed income, token name/thumbnail attached, newest first.

        Income fold mirrors the reference's client-side CASE
        (app.service.ts:325-339), generalized to the royalty ARRAYS of the
        Spark schema: gross = price for sales / filled for auctions; a
        seller's income deducts the platform fee and royalties paid to
        OTHERS (royalties routed back to the seller stay, exactly the
        reference's royaltyOwner==sellerAddr branch); a pure royalty
        recipient's income is their royalty share. Tokens join on uniqueKey
        (the reference joins on bare tokenId — the same cross-chain
        collision its other lookups have; deliberate fix, SURVEY §1.3)."""
        filled = self.orders.filter(F.col("orderState") == ORDER_STATE_FILLED)
        if today_start_s is not None:
            filled = filled.filter(F.col("updateTime") >= today_start_s)

        zero = F.lit(0).cast("decimal(38,0)")
        roy_pairs = F.arrays_zip("royaltyOwners", "royaltyFees")
        roy_to_wallet = F.coalesce(
            F.aggregate(
                F.filter(roy_pairs, lambda r: r["royaltyOwners"] == wallet),
                zero,
                lambda acc, r: acc + r["royaltyFees"].cast("decimal(38,0)"),
            ),
            zero,
        )
        roy_to_others = F.coalesce(
            F.aggregate(
                F.filter(roy_pairs, lambda r: r["royaltyOwners"] != wallet),
                zero,
                lambda acc, r: acc + r["royaltyFees"].cast("decimal(38,0)"),
            ),
            zero,
        )
        gross = F.when(F.col("orderType") == 1, F.col("price")).otherwise(
            F.col("filled")
        )
        is_seller = F.col("sellerAddr") == wallet
        income = F.when(
            is_seller,
            gross
            - F.coalesce(F.col("platformFee"), F.lit(0)).cast("decimal(38,0)")
            - roy_to_others,
        ).otherwise(roy_to_wallet)
        rows = (
            filled.filter(is_seller | F.array_contains(F.col("royaltyOwners"), wallet))
            .withColumn("income", income)
            .withColumn(
                "role", F.when(is_seller, F.lit("seller")).otherwise(F.lit("royalty"))
            )
        )
        t = self.tokens.select(
            F.col("uniqueKey").alias("t_uniqueKey"),
            F.col("name").alias("token_name"),
            F.col("data.thumbnail").alias("token_thumbnail"),
        )
        rows = (
            rows.join(F.broadcast(t), rows.uniqueKey == t.t_uniqueKey, "left")
            .select(
                "orderId", "chain", "orderType", "orderState", "price", "filled",
                "sellerAddr", "royaltyOwners", "royaltyFees", "platformFee",
                "updateTime", "income", "role", "token_name", "token_thumbnail",
            )
        )
        order = [F.desc("updateTime"), F.desc("orderId"), F.asc("chain")]
        if page is None:
            return rows.orderBy(*order)
        return count_and_page(rows, order, page.page_num, page.page_size)

    # -- price history (app.service.ts:345-354, 1220-1227) -------------------
    def price_history(self, unique_key: str) -> DataFrame:
        return (
            self.orders.filter(
                (F.col("uniqueKey") == unique_key)
                & (F.col("orderState") == ORDER_STATE_FILLED)
            )
            .select(
                "updateTime",
                F.col("filled").alias("price"),  # P2 alias, app.service.ts:350
            )
            .orderBy(F.asc("updateTime"))
        )

    # -- wallet statistics (app.service.ts:1629-1654) ------------------------
    def wallet_statistics(self, address: str) -> DataFrame:
        """SIX countDocuments round-trips in the reference -> three
        single-pass conditional-count aggregates (one per entity table)
        joined on a literal key. A12's pattern applied to the endpoint."""
        one = F.lit(1)
        o = self.orders.agg(
            one.alias("_k"),
            F.count(
                F.when(
                    (F.col("sellerAddr") == address)
                    & (F.col("orderState") == ORDER_STATE_CREATED),
                    1,
                )
            ).alias("listed"),
            F.count(
                F.when(
                    (F.col("sellerAddr") == address)
                    & (F.col("orderState") == ORDER_STATE_FILLED),
                    1,
                )
            ).alias("sold"),
        )
        t = self.tokens.agg(
            one.alias("_k"),
            F.count(F.when(F.col("tokenOwner") == address, 1)).alias("owned"),
            F.count(F.when(F.col("royaltyOwner") == address, 1)).alias("minted"),
        )
        ev = (
            self.order_events.agg(
                one.alias("_k"),
                F.count(
                    F.when(
                        (F.col("eventType") == ORDER_EVENT_BID) & (F.col("buyer") == address), 1
                    )
                ).alias("bids"),
            )
            if self.order_events is not None
            else None
        )
        out = o.join(t, "_k")
        if ev is not None:
            out = out.join(ev, "_k")
        if self.collections is not None:
            c = self.collections.agg(
                one.alias("_k"),
                F.count(F.when(F.col("owner") == address, 1)).alias("collections"),
            )
            out = out.join(c, "_k")
        return out.drop("_k")

    # -- first-sale / on-sale flags (app.service.ts:2268-2318) ---------------
    def check_first_sale(self, unique_keys: list[str]) -> DataFrame:
        """The reference $lookups EVERY order per token then walks them in
        JS; the same answer is two grouped EXISTS flags: isOnSale = latest
        order is Created (argmax), isFirstSale = no Filled order exists."""
        t = self.tokens.filter(F.col("uniqueKey").isin(unique_keys)).select(
            "chain", "contract", "tokenId", "uniqueKey"
        )
        per_key = (
            self.orders.filter(F.col("uniqueKey").isin(unique_keys))
            .groupBy("uniqueKey")
            .agg(
                (
                    F.max_by(
                        F.col("orderState"),
                        F.struct(
                            F.col("createTime").alias("c"), F.col("orderId").alias("o")
                        ),
                    )
                    == ORDER_STATE_CREATED
                ).alias("isOnSale"),
                (
                    F.count(F.when(F.col("orderState") == ORDER_STATE_FILLED, 1)) == 0
                ).alias("isFirstSale"),
            )
        )
        return (
            t.join(F.broadcast(per_key), "uniqueKey", "left")
            .select(
                "chain",
                "contract",
                "tokenId",
                F.coalesce("isOnSale", F.lit(False)).alias("isOnSale"),
                F.coalesce("isFirstSale", F.lit(True)).alias("isFirstSale"),
            )
        )

    # -- collectibles of a collection (app.service.ts:1229-1265,1502-1627) ---
    def collectibles_of_collection(
        self, chain: str, contract: str, page: D.PageArgs, keyword: str | None = None
    ) -> DataFrame:
        base = self.tokens.filter(
            (F.col("chain") == chain) & (F.col("contract") == contract)
        )
        if keyword:
            base = base.filter(_keyword_filter(keyword, "name", "description"))
        return count_and_page(
            base,
            [F.desc("createTime"), F.desc("tokenId"), F.asc("uniqueKey")],
            page.page_num,
            page.page_size,
        )

    # -- latest bids for a token's auction (app.service.ts:203-240) ----------
    def latest_bids(self, token_id: str, page: D.PageArgs) -> DataFrame:
        """The reference runs findOne(latest auction) + count + find + one
        cache GET per row; here one lazy plan: latest auction order per
        (chain, token) (argmax), semi-joined to its Bid events on the
        COMPOSITE (orderId, chain) key — orderId alone is only unique per
        chain, a correctness hole the reference's tokenId-only findOne
        shares — then buyer names attached (broadcast DID dim) and
        count+paged by block desc LAST, so the join cannot disturb the
        returned page order."""
        auctions = self.orders.filter(
            (F.col("tokenId") == token_id) & (F.col("orderType") == 2)
        )
        latest = (
            latest_per_key(
                # real block order when present — a token re-auctioned within
                # one createTime tick must still resolve to the later auction
                _with_block_order(auctions),
                ["chain", "tokenId"],
                _order_recency(),
            )
            .select(
                F.col("orderId").alias("auction_orderId"),
                F.col("chain").alias("auction_chain"),
            )
        )
        bids = self.order_events.filter(F.col("eventType") == ORDER_EVENT_BID).join(
            F.broadcast(latest),
            (F.col("orderId") == F.col("auction_orderId"))
            & (F.col("chain") == F.col("auction_chain")),
            "semi",
        )
        if self.did_profiles is not None:
            bids = self.with_buyer_names(bids)
        paged = count_and_page(
            bids, [F.desc("blockNumber"), F.desc("transactionHash")], page.page_num, page.page_size
        )
        return paged.drop("transactionHash")  # $project excludes it (ts:227)

    # -- bids by wallet (app.service.ts:1781-1840) ---------------------------
    def bids_by_wallet(self, q: D.WalletQuery) -> DataFrame:
        """getBidsCollectiblesByWalletAddr: the double $lookup + $unwind
        (order by composite (orderId, chain), then token by uniqueKey)
        becomes two joins; the reference's count + aggregate pair is the
        usual one count_and_page."""
        ev = self.order_events.filter(
            (F.col("buyer") == q.wallet) & (F.col("eventType") == ORDER_EVENT_BID)
        ).filter(_chain_filter(q.chain))
        o = self.orders.select(
            F.col("orderId").alias("o_orderId"),
            F.col("chain").alias("o_chain"),
            F.col("uniqueKey").alias("o_uniqueKey"),
            F.col("orderState").alias("order_state"),
            F.col("price").alias("order_price"),
        )
        t = self.tokens.select(
            F.col("uniqueKey").alias("t_uniqueKey"),
            F.col("name").alias("token_name"),
        )
        joined = (
            ev.join(
                o,
                (ev.orderId == o.o_orderId) & (ev.chain == o.o_chain),
                "left",
            )
            .join(t, F.col("o_uniqueKey") == t.t_uniqueKey, "left")
            .drop("o_orderId", "o_chain", "t_uniqueKey")
        )
        return count_and_page(
            joined,
            [F.desc("timestamp"), F.desc("blockNumber"), F.asc("transactionHash")],
            q.page.page_num,
            q.page.page_size,
        )

    # -- recent on-sale picks (app.service.ts:361-412) -----------------------
    def recent_on_sale(self, top_collections: int = 3, per_collection: int = 5) -> DataFrame:
        """getRecentOnSale: the reference LOOPS driver-side — top-dia
        collections three at a time, one orders query each, then a tokens
        query per batch. One declarative plan instead: broadcast the top-k
        collections, join Created orders, window top-5 per collection by
        recency, join token details, attach collectionName. O(1) jobs at
        any catalog size."""
        top = (
            self.collections.orderBy(F.desc_nulls_last("dia"), F.asc("chain"), F.asc("token"))
            .limit(top_collections)
            .select(
                F.col("chain").alias("c_chain"),
                F.col("token").alias("c_token"),
                F.col("name").alias("collectionName"),
            )
        )
        created = self.orders.filter(F.col("orderState") == ORDER_STATE_CREATED)
        cand = created.join(
            F.broadcast(top),
            (created.chain == F.col("c_chain")) & (created.baseToken == F.col("c_token")),
        )
        from pasardassist_spark.operators.latest import top_k_per_key

        picks = top_k_per_key(
            cand,
            ["c_chain", "c_token"],
            [F.desc("createTime"), F.desc("orderId")],
            per_collection,
        )
        t = self.tokens.select(
            F.col("uniqueKey").alias("t_uniqueKey"),
            F.col("name").alias("token_name"),
            F.col("data").alias("token_data"),
        )
        return (
            picks.join(t, picks.uniqueKey == t.t_uniqueKey, "left")
            .drop("t_uniqueKey", "c_chain", "c_token")
        )

    # -- collections listing (app.service.ts:560-601) ------------------------
    def collections_list(self, q: D.CollectionsQuery) -> DataFrame:
        """listCollections: filters + a stats sort + count/page. The stats
        (items/owners/tradeVolume/lowestPrice) are computed in ONE pass by
        collection_stats and joined — the reference precomputes them with
        4 queries per collection on a timer (tasks.common.ts:124-154)."""
        c = self.collections.filter(_chain_filter(q.chain))
        if q.owner:
            # getCollectionsByWalletAddr (app.service.ts:1656-1684):
            # match = {owner: walletAddr}; an exact equality predicate the
            # scan layer pushes into the parquet read.
            c = c.filter(F.col("owner") == q.owner)
        if q.category:
            c = c.filter(F.col("data.category") == q.category)
        if q.keyword:
            c = c.filter(_keyword_filter(q.keyword, "name", F.col("data.description")))
        stats = self.collection_stats().withColumnRenamed("chain", "s_chain")
        joined = c.join(
            stats,
            (c.chain == stats.s_chain) & (c.token == stats.contract),
            "left",
        ).drop("s_chain", "contract")
        if q.sort not in D.COLLECTION_SORTS:
            raise ValueError(f"unknown sort {q.sort!r}")
        order = [F.desc_nulls_last(q.sort), F.asc("chain"), F.asc("token")]
        return count_and_page(joined, order, q.page.page_num, q.page.page_size)

    # -- collection info (app.service.ts:1268-1272) --------------------------
    def collection_info(self, chain: str, token: str) -> DataFrame:
        return self.collections.filter(
            (F.col("chain") == chain) & (F.col("token") == token)
        )

    # -- multi-entity quick search (app.service.ts:1274-1317) ----------------
    def quick_search_collections(self, keyword: str, k: int = 3) -> DataFrame:
        return (
            self.collections.filter(
                (F.col("owner") == keyword)
                | (F.col("token") == keyword)
                | _keyword_filter(
                    keyword, "name", "data.description", "creator.name"
                )
            )
            .orderBy(F.asc("chain"), F.asc("token"))
            .limit(k)
        )

    # -- token counts by contract class (app.service.ts:2320-2349) -----------
    def token_counts(
        self, native_contract: str, pasar_contract: str, eco_contract: str
    ) -> DataFrame:
        """The reference issues FOUR countDocuments scans then subtracts
        client-side for `otherTokenCount`; here one classify-and-count pass
        (U2/A12) over non-burned tokens produces all four columns."""
        from pasardassist_spark.functions.chain import BURN_ADDRESS

        t = self.tokens.filter(
            F.coalesce(F.col("tokenOwner"), F.lit("")) != BURN_ADDRESS
        )

        def cnt(contract: str) -> Column:
            return F.count(F.when(F.col("contract") == contract, F.lit(1)))

        total = F.count(F.lit(1))
        return t.agg(
            cnt(native_contract).alias("nativeTokenCount"),
            cnt(pasar_contract).alias("pasarTokenCount"),
            cnt(eco_contract).alias("ecoTokenCount"),
            (
                total - cnt(native_contract) - cnt(pasar_contract) - cnt(eco_contract)
            ).alias("otherTokenCount"),
        )

    # -- pool rewards (app.service.ts:2351-2365) -----------------------------
    def pool_rewards(self) -> DataFrame:
        """Σ amount per reward pool — the rewards_distribution_records
        $group/$sum, decimal-exact over the WEI column."""
        return self.rewards.groupBy("pool").agg(F.sum("amount").alias("total"))

    # -- bids history (app.service.ts:2368-2376) -----------------------------
    def bids_history(self, chain: str, order_id: int) -> DataFrame:
        return self.order_events.filter(
            (F.col("chain") == chain)
            & (F.col("orderId") == order_id)
            & (F.col("eventType") == ORDER_EVENT_BID)
        ).orderBy(F.desc("timestamp"), F.desc("blockNumber"))

    # -- DID profile names (app.service.ts:230-235) --------------------------
    def with_buyer_names(self, events: DataFrame) -> DataFrame:
        """The reference resolves buyer display names with one Redis GET per
        result row; here a broadcast left join against the did_profiles dim
        attaches `buyerName` to the whole result set in one pass."""
        prof = F.broadcast(
            self.did_profiles.select(
                F.lower(F.col("address")).alias("_addr"),
                F.col("name").alias("buyerName"),
            )
        )
        return events.join(
            prof, F.lower(events["buyer"]) == prof["_addr"], "left"
        ).drop("_addr")

    # -- feeds channels (app.service.ts:2415-2450) ---------------------------
    def feeds_channels(
        self, page: D.PageArgs, keyword: str | None = None
    ) -> DataFrame:
        """listFeedsChannel: FeedsChannel-typed, non-burned tokens with an
        optional keyword filter, count+paged."""
        from pasardassist_spark.functions.chain import BURN_ADDRESS

        base = self.tokens.filter(
            (F.col("type") == "FeedsChannel")
            & (F.coalesce(F.col("tokenOwner"), F.lit("")) != BURN_ADDRESS)
        )
        if keyword:
            base = base.filter(_keyword_filter(keyword, "name", "description"))
        return count_and_page(
            base,
            [F.desc("createTime"), F.desc("tokenId"), F.asc("uniqueKey")],
            page.page_num,
            page.page_size,
        )

    # -- DID profile lookup (app.service.ts:356-359) -------------------------
    def did_by_address(self, address: str) -> DataFrame:
        if self.did_profiles is None:
            raise ValueError("did_by_address requires a did_profiles frame")
        return self.did_profiles.filter(F.lower(F.col("address")) == address.lower())

    # -- health probe (app.controller.ts:23-26, app.service.ts:35-37) --------
    def check(self) -> dict:
        """The `/check` liveness route: the constant OK envelope. Closes the
        route surface to 51/51 — trivial by design, parity-tested so the
        'deliberate omission' footnote can die."""
        return {"status": 200, "message": "Success"}

    # -- retry-flag reset (app.service.ts:1991-1997) --------------------------
    @staticmethod
    def re_get_token_detail(
        retry_state: DataFrame, max_retries: int = 5
    ) -> tuple[DataFrame, int]:
        """`reGetTokenDetail`: the reference's updateMany over the tokens
        collection — rows still flagged ``notGetDetail`` whose
        ``retry_times`` exceeded the cap (> 4, i.e. dead-lettered by the
        ST7 loop, sources/enrichment.py:run_retry_rounds) get
        ``retry_times`` reset to 0 so the next polling round re-attempts
        them. Returns (updated retry-state frame, matched count) — the
        count mirrors Mongo's ``matchedCount`` payload.

        Pure column math on the state table: no shuffle, no Python row
        path; at 100 TB this is the same single map stage over the
        pending-updates table partitioning."""
        matched = F.col("not_get_detail") & (F.col("retry_times") > max_retries - 1)
        n_matched = retry_state.filter(matched).count()
        updated = retry_state.withColumn(
            "retry_times",
            F.when(matched, F.lit(0)).otherwise(F.col("retry_times")),
        )
        return updated, n_matched

    # -- token detail w/ latest order (app.service.ts:172-185) ---------------
    def token_detail(self, chain: str, contract: str, token_id: str) -> DataFrame:
        t = self.tokens.filter(
            (F.col("chain") == chain)
            & (F.col("contract") == contract)
            & (F.col("tokenId") == token_id)
        )
        latest = latest_per_key(
            _with_block_order(self.orders),
            ["uniqueKey"],
            _order_recency(),
        ).select(
            F.col("uniqueKey").alias("o_uk"),
            F.col("orderId").alias("latest_orderId"),
            F.col("orderState").alias("latest_orderState"),
            F.col("price").alias("latest_price"),
        )
        return t.join(latest, t.uniqueKey == latest.o_uk, "left").drop("o_uk")


# -- route -> builder parity table (app.controller.ts:23-430) ----------------
# Every @Get/@Post route the reference exposes, mapped to the
# PasarQueryService method that computes its payload. Several routes share a
# builder deliberately: the reference fans one query family out over
# near-identical endpoints (the four market stickers are ONE single-pass
# aggregate here; the five wallet-collectible views are one builder with a
# mode switch). tests/test_api.py::test_route_builder_parity enumerates this
# table, asserts every method exists, and — when the reference checkout is
# present — diffs the route list against app.controller.ts so a new route
# can never go silently unmapped.
ROUTES: dict[str, str] = {
    "/check": "check",
    "/feeds/api/v1/price": "platform_price",
    "/price": "platform_price",
    "/getTokenOrderByTokenId": "token_order_by_token_id",
    "/getTransHistoryByTokenId": "transactions",
    "/getLatestBids": "latest_bids",
    "/getEarnedByAddress": "earnings",
    "/getTodayEarnedByAddress": "earnings",
    "/getEarnedListByAddress": "earnings_list",
    "/getTokenPriceHistory": "price_history",
    "/getDidByAddress": "did_by_address",
    "/getRecentOnSale": "recent_on_sale",
    "/checkFirstSale": "check_first_sale",
    "/listCollectibles": "list_collectibles",
    "/marketplace": "marketplace",
    "/getCollectibleOfMarketplace": "collectible_of_marketplace",
    "/listNFTs": "list_nfts",
    "/listTransactions": "transactions",
    "/getTransactionsOfToken": "transactions",
    "/getPriceHistoryOfToken": "price_history",
    "/getCollectibleInfo": "token_detail",
    "/getCollectiblesOfCollection": "collectibles_of_collection",
    "/listCollections": "collections_list",
    "/getCollectionInfo": "collection_info",
    "/getStatisticsOfCollection": "collection_stats",
    "/listCollectibleOfCollection": "collectibles_of_collection",
    "/quickSearch": "quick_search",
    "/searchTokens": "search_tokens",
    "/searchMarketplace": "search_marketplace",
    "/getStatisticsByWalletAddr": "wallet_statistics",
    "/getCollectionsByWalletAddr": "collections_list",
    "/getListedCollectiblesByWalletAddr": "collectibles_by_wallet",
    "/getOwnedCollectiblesByWalletAddr": "collectibles_by_wallet",
    "/getBidsCollectiblesByWalletAddr": "bids_by_wallet",
    "/getMintedCollectiblesByWalletAddr": "collectibles_by_wallet",
    "/getSoldCollectiblesByWalletAddr": "collectibles_by_wallet",
    "/getItems": "market_totals",
    "/getTransactions": "market_totals",
    "/getOwners": "market_totals",
    "/getTradingVolume": "market_totals",
    "/reGetTokenDetail": "re_get_token_detail",
    "/getStatisticsOfUser": "user_statistics",
    "/listTransactionsOfUser": "transactions_of_user",
    "/getIncomesOfUser": "incomes_of_user",
    "/getTokensCount": "token_counts",
    "/getPoolRewards": "pool_rewards",
    "/getBidsHistory": "bids_history",
    "/getAttributesOfCollection": "attributes_of_collection",
    "/getV1MarketNFTByWalletAddr": "v1_market_by_wallet",
    "/getQuotedTokensRate": "quoted_tokens_rate",
    "/listFeedsChannel": "feeds_channels",
}
