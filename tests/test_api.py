"""Endpoint-family semantics tests over FIXTURES.md §A-shaped fixture data:
status tag composition, chain aliasing, price scaling, latest-order dedup,
event classification, royalty fan-out."""

from __future__ import annotations

from decimal import Decimal

import pytest

from pasardassist_spark.api import (
    MarketplaceQuery,
    PageArgs,
    PasarQueryService,
    WalletQuery,
)
from pasardassist_spark.api.dto import (
    STATUS_BUY_NOW,
    STATUS_HAS_ENDED,
    STATUS_ON_AUCTION,
    TransactionQuery,
)
from pasardassist_spark.api.schemas import (
    ORDER_EVENTS_SCHEMA,
    ORDERS_SCHEMA,
    TOKEN_EVENTS_SCHEMA,
    TOKENS_SCHEMA,
)

NOW = 1_700_000_000
BURN = "0x0000000000000000000000000000000000000000"


def _token(**kw):
    base = {f.name: None for f in TOKENS_SCHEMA.fields}
    base.update(tokenSupply=1, adult=False, createTime=1, updateTime=1, blockNumber=1)
    base.update(kw)
    return tuple(base[f.name] for f in TOKENS_SCHEMA.fields)


def _order(**kw):
    base = {f.name: None for f in ORDERS_SCHEMA.fields}
    base.update(
        orderType=1,
        orderState=1,
        amount=1,
        bids=0,
        endTime=0,
        createTime=1,
        updateTime=1,
        price=Decimal(10**18),
    )
    base.update(kw)
    return tuple(base[f.name] for f in ORDERS_SCHEMA.fields)


@pytest.fixture(scope="module")
def svc(spark):
    tokens = spark.createDataFrame(
        [
            _token(tokenId="1", chain="ela", contract="c1", uniqueKey="ela-c1-1",
                   name="Cool Cat", description="a cat", tokenOwner="alice",
                   tokenMinter="alice", createTime=100),
            _token(tokenId="2", chain="ela", contract="c1", uniqueKey="ela-c1-2",
                   name="Dog", description="a dog", tokenOwner="bob",
                   tokenMinter="alice", adult=True, createTime=200),
            _token(tokenId="3", chain="v1", contract="c2", uniqueKey="3",
                   name="Legacy Cat", description="v1 item", tokenOwner="carol",
                   tokenMinter="carol", createTime=300),
            _token(tokenId="4", chain="eth", contract="c3", uniqueKey="eth-c3-4",
                   name="Ether Thing", description="eth", tokenOwner="alice",
                   tokenMinter="dave", createTime=400),
        ],
        TOKENS_SCHEMA,
    )
    orders = spark.createDataFrame(
        [
            # token 1: older cancelled order + newer Created sale @2 ELA
            _order(orderId=1, chain="ela", baseToken="c1", tokenId="1",
                   uniqueKey="ela-c1-1", orderState=3, createTime=110,
                   sellerAddr="alice"),
            _order(orderId=2, chain="ela", baseToken="c1", tokenId="1",
                   uniqueKey="ela-c1-1", orderState=1, createTime=120,
                   price=Decimal(2 * 10**18), sellerAddr="alice"),
            # token 2: live auction, no end, with a bid
            _order(orderId=3, chain="ela", baseToken="c1", tokenId="2",
                   uniqueKey="ela-c1-2", orderType=2, orderState=1,
                   createTime=130, bids=1, endTime=0, sellerAddr="bob"),
            # token 3 (v1): ended auction
            _order(orderId=4, chain="v1", baseToken="c2", tokenId="3",
                   uniqueKey="3", orderType=2, orderState=1, createTime=140,
                   endTime=NOW - 5, sellerAddr="carol"),
            # token 4 (eth): filled sale by alice, platform fee 5, royalties
            _order(orderId=5, chain="eth", baseToken="c3", tokenId="4",
                   uniqueKey="eth-c3-4", orderState=2, createTime=150,
                   updateTime=160, filled=Decimal(100), platformFee=5,
                   sellerAddr="alice", buyerAddr="bob",
                   royaltyOwners=["dave"], royaltyFees=[7]),
        ],
        ORDERS_SCHEMA,
    )
    token_events = spark.createDataFrame(
        [
            ("ela", "c1", 10, "0xa", BURN, "alice", "1", "alice", 1, 1, 1000),
            ("ela", "c1", 11, "0xb", "alice", "bob", "1", "alice", 1, 1, 2000),
            ("ela", "c1", 12, "0xc", "bob", BURN, "1", "bob", 1, 1, 3000),
        ],
        TOKEN_EVENTS_SCHEMA,
    )
    order_events = spark.createDataFrame(
        [
            ("ela", "c1", 13, "0xd", 2, "1", "alice", None, None, Decimal(2 * 10**18), 2, 1, 1500),
            ("eth", "c3", 14, "0xe", 5, "4", "alice", "bob", None, Decimal(100), 3, 1, 2500),
        ],
        ORDER_EVENTS_SCHEMA,
    )
    return PasarQueryService(tokens, orders, token_events, order_events)


def test_marketplace_status_tags(svc):
    q = lambda *status: {
        r.orderId
        for r in svc.marketplace(
            MarketplaceQuery(status=status, now_seconds=NOW, page=PageArgs(1, 50))
        ).collect()
    }
    assert q(STATUS_BUY_NOW) == {2}  # only the live sale (cancelled excluded)
    assert q(STATUS_ON_AUCTION) == {3}  # endTime=0 is endless, ended excluded
    assert q(STATUS_HAS_ENDED) == {4}
    assert q(STATUS_BUY_NOW, STATUS_ON_AUCTION) == {2, 3}


def test_marketplace_chain_alias_and_price(svc):
    # ELA includes V1 legacy (app.service.ts:543-545)
    rows = svc.marketplace(
        MarketplaceQuery(chain="ela", now_seconds=NOW, page=PageArgs(1, 50))
    ).collect()
    assert {r.chain for r in rows} == {"ela", "v1"}
    # price filter in user units x1e18
    rows = svc.marketplace(
        MarketplaceQuery(min_price=1.5, now_seconds=NOW, page=PageArgs(1, 50))
    ).collect()
    assert {r.orderId for r in rows} == {2}


def test_marketplace_keyword_and_total(svc):
    rows = svc.marketplace(
        MarketplaceQuery(keyword="cat", now_seconds=NOW, page=PageArgs(1, 50))
    ).collect()
    assert {r.orderId for r in rows} == {2, 4}
    assert all(r.total == 2 for r in rows)  # count rides with the page


def test_wallet_modes(svc):
    owned = svc.collectibles_by_wallet(WalletQuery(wallet="alice"), "owned").collect()
    assert {r.tokenId for r in owned} == {"1", "4"}
    minted = svc.collectibles_by_wallet(WalletQuery(wallet="alice"), "minted").collect()
    assert {r.tokenId for r in minted} == {"1", "2"}
    listed = svc.collectibles_by_wallet(WalletQuery(wallet="alice"), "listed").collect()
    assert {r.tokenId for r in listed} == {"1"}  # latest order is the Created one
    sold = svc.collectibles_by_wallet(WalletQuery(wallet="alice"), "sold").collect()
    assert {(r.tokenId, r.sold_price) for r in sold} == {("4", Decimal(100))}


def test_transactions_classification(svc):
    rows = svc.transactions(TransactionQuery(page=PageArgs(1, 50))).collect()
    by_tx = {r.transactionHash: r.event for r in rows}
    assert by_tx["0xa"] == "Mint" and by_tx["0xc"] == "Burn"
    assert by_tx["0xb"] == "SafeTransferFrom"
    assert by_tx["0xd"] == "OrderForSale" and by_tx["0xe"] == "OrderFilled"
    # timeline is globally time-sorted desc
    ts = [r.timestamp for r in rows]
    assert ts == sorted(ts, reverse=True)


def test_collection_stats(svc):
    stats = {(r.chain, r.contract): r for r in svc.collection_stats().collect()}
    c1 = stats[("ela", "c1")]
    assert c1.items == 2 and c1.owners == 2
    # min over Created orders on c1: sale @2e18 and live auction @1e18
    assert c1.lowestPrice == Decimal(10**18)
    c3 = stats[("eth", "c3")]
    assert c3.tradeVolume == Decimal(100)


def test_earnings_fanout(svc):
    rows = {r.income_type: r.total_income for r in svc.earnings("alice").collect()}
    # reference fold (app.service.ts:325-339): a SALE's gross is price (not
    # filled), minus platform fee, minus royalties paid to others
    assert rows["sale"] == Decimal(10**18) - 5 - 7
    dave = {r.income_type: r.total_income for r in svc.earnings("dave").collect()}
    assert dave["royalty"] == Decimal(7)


def test_earnings_list_rows(spark, svc):
    # alice: one filled order (order 5) as seller
    rows = svc.earnings_list("alice", PageArgs(1, 10)).collect()
    assert [r.orderId for r in rows] == [5]
    r = rows[0]
    assert r.role == "seller"
    assert r.income == Decimal(10**18) - 5 - 7
    assert r.token_name == "Ether Thing"
    assert r.total == 1  # count+page in one pass
    # dave: pure royalty recipient on the same order
    (d,) = svc.earnings_list("dave", PageArgs(1, 10)).collect()
    assert d.role == "royalty" and d.income == Decimal(7)
    # bob bought, never sold or earned royalties: empty
    assert svc.earnings_list("bob", PageArgs(1, 10)).count() == 0


def test_earnings_list_self_royalty_branch(spark):
    """The royaltyOwner==sellerAddr branch: platform fee deducted, own
    royalty NOT deducted (app.service.ts:327-329); auctions use `filled` as
    gross; multi-owner royalty arrays split per owner."""
    orders = spark.createDataFrame(
        [
            # erin sells at auction, is also one of two royalty owners
            _order(orderId=10, chain="ela", baseToken="c9", tokenId="9",
                   uniqueKey="ela-c9-9", orderType=2, orderState=2,
                   createTime=10, updateTime=20, filled=Decimal(1000),
                   platformFee=20, sellerAddr="erin",
                   royaltyOwners=["erin", "frank"], royaltyFees=[30, 40]),
        ],
        ORDERS_SCHEMA,
    )
    tokens = spark.createDataFrame([], TOKENS_SCHEMA)
    s = PasarQueryService(tokens, orders)
    (e,) = s.earnings_list("erin", PageArgs(1, 10)).collect()
    assert e.income == Decimal(1000 - 20 - 40)  # own 30 kept, frank's 40 out
    (f,) = s.earnings_list("frank", PageArgs(1, 10)).collect()
    assert f.role == "royalty" and f.income == Decimal(40)


def test_search_tokens_predicate_family(svc):
    # substring over name/description + exact owner/id hits, one plan
    assert {r.name for r in svc.search_tokens("cat").collect()} == {
        "Cool Cat", "Legacy Cat"
    }
    assert {r.name for r in svc.search_tokens("alice").collect()} == {
        "Cool Cat", "Ether Thing"  # exact tokenOwner hits
    }
    assert {r.name for r in svc.search_tokens("3").collect()} == {"Legacy Cat"}


def test_search_marketplace_two_branches(svc):
    # keyword hits tokens only: both on-sale cats via their LATEST Created
    # order; the filled/cancelled history must not leak in
    rows = svc.search_marketplace("cat").collect()
    assert {(r.token_name, r.matched_by) for r in rows} == {
        ("Cool Cat", "token_match"), ("Legacy Cat", "token_match")
    }
    # keyword hits a seller AND their owned token: both branches report
    # (reference concats data1+data2 the same way)
    rows = svc.search_marketplace("carol").collect()
    assert {(r.token_name, r.matched_by) for r in rows} == {
        ("Legacy Cat", "token_match"), ("Legacy Cat", "seller_match")
    }
    # a token whose latest order is Filled is NOT on the marketplace
    assert not [
        r for r in svc.search_marketplace("alice").collect()
        if r.token_name == "Ether Thing"
    ]


def test_v1_market_by_wallet(svc):
    rows = svc.v1_market_by_wallet("carol").collect()
    assert [r.orderId for r in rows] == [4]
    assert rows[0].chain == "v1"
    # ela listings must NOT alias into the V1-only endpoint
    assert svc.v1_market_by_wallet("alice").count() == 0


def test_token_detail_latest_order(svc):
    row = svc.token_detail("ela", "c1", "1").collect()[0]
    assert row.latest_orderId == 2 and row.latest_orderState == 1
    assert row.latest_price == Decimal(2 * 10**18)


@pytest.fixture(scope="module")
def svc_full(spark, svc):
    from decimal import Decimal as D

    from pasardassist_spark.api.schemas import DID_PROFILES_SCHEMA, REWARDS_SCHEMA

    rewards = spark.createDataFrame(
        [
            ("pool1", "alice", D(100), 1000),
            ("pool1", "bob", D(50), 1100),
            ("pool2", "carol", D(7), 1200),
        ],
        REWARDS_SCHEMA,
    )
    did = spark.createDataFrame(
        [("BOB", "did:ela:bob", "Bobby"), ("alice", "did:ela:alice", "Alice A")],
        DID_PROFILES_SCHEMA,
    )
    return PasarQueryService(
        svc.tokens, svc.orders, svc.token_events, svc.order_events, rewards, did
    )


def test_token_counts_single_pass(svc_full):
    row = svc_full.token_counts("c1", "c2", "cX").collect()[0]
    # 4 tokens, none burn-owned: c1 x2 (native), c2 x1 (pasar), cX x0, other=c3
    assert (
        row.nativeTokenCount,
        row.pasarTokenCount,
        row.ecoTokenCount,
        row.otherTokenCount,
    ) == (2, 1, 0, 1)


def test_pool_rewards_groupby(svc_full):
    from decimal import Decimal as D

    got = {r.pool: r.total for r in svc_full.pool_rewards().collect()}
    assert got == {"pool1": D(150), "pool2": D(7)}


def test_bids_history_filter_sort(spark, svc):
    from decimal import Decimal as D

    from pasardassist_spark.api.schemas import ORDER_EVENTS_SCHEMA

    oe = spark.createDataFrame(
        [
            ("ela", "c1", 20, "0xf1", 7, "1", "s", "b1", None, D(1), 1, 1, 100),
            ("ela", "c1", 21, "0xf2", 7, "1", "s", "b2", None, D(2), 1, 1, 200),
            ("ela", "c1", 22, "0xf3", 7, "1", "s", "b3", None, D(3), 3, 1, 300),
            ("eth", "c1", 23, "0xf4", 7, "1", "s", "b4", None, D(4), 1, 1, 400),
        ],
        ORDER_EVENTS_SCHEMA,
    )
    s = PasarQueryService(svc.tokens, svc.orders, svc.token_events, oe)
    rows = s.bids_history("ela", 7).collect()
    assert [r.transactionHash for r in rows] == ["0xf2", "0xf1"]  # bids only, desc


def test_buyer_names_broadcast_join(svc_full):
    enriched = svc_full.with_buyer_names(svc_full.order_events).collect()
    by_tx = {r.transactionHash: r.buyerName for r in enriched}
    assert by_tx["0xe"] == "Bobby"  # case-insensitive address match
    assert by_tx["0xd"] is None  # no profile -> left join keeps the row


@pytest.fixture(scope="module")
def svc_collections(spark, svc):
    from pasardassist_spark.api.schemas import COLLECTIONS_SCHEMA

    def _coll(chain, token, name, category, dia, owner="o", desc=""):
        return (
            chain, token, owner, name, "uri://x", 1,
            ("did:x", name + " creator", None),
            (None, None, desc, category, (None,) * 7),
            dia,
        )

    collections = spark.createDataFrame(
        [
            _coll("ela", "c1", "Cats Collection", "art", 5.0, desc="feline art"),
            _coll("v1", "c2", "Legacy Stuff", "utility", 9.0),
            _coll("eth", "c3", "Ether Things", "art", 2.0),
            _coll("eth", "c4", "Wallet Owned", "misc", 1.0, owner="0xw1"),
            _coll("fsn", "c5", "Wallet Owned Too", "misc", 3.0, owner="0xw1"),
        ],
        COLLECTIONS_SCHEMA,
    )
    return PasarQueryService(
        svc.tokens, svc.orders, svc.token_events, svc.order_events,
        collections=collections,
    )


def test_collections_list_filters_sort_stats(svc_collections):
    from pasardassist_spark.api.dto import CollectionsQuery

    rows = svc_collections.collections_list(
        CollectionsQuery(chain="ela", sort="dia", page=PageArgs(1, 10))
    ).collect()
    # ELA aliases in the V1 legacy chain; dia desc
    assert [r.token for r in rows] == ["c2", "c1"]
    assert all(r.total == 2 for r in rows)
    # stats ride along from the one-pass collection_stats join
    c1 = [r for r in rows if r.token == "c1"][0]
    assert c1.items == 2 and c1.owners == 2
    rows = svc_collections.collections_list(
        CollectionsQuery(category="art", sort="items", page=PageArgs(1, 10))
    ).collect()
    assert [r.token for r in rows] == ["c1", "c3"]
    rows = svc_collections.collections_list(
        CollectionsQuery(keyword="feline", page=PageArgs(1, 10))
    ).collect()
    assert [r.token for r in rows] == ["c1"]


def test_collections_list_owner_filter(svc_collections):
    """getCollectionsByWalletAddr (app.service.ts:1656-1684): owner match,
    optional chain, stats sort, count+page — through the same listing."""
    from pasardassist_spark.api.dto import CollectionsQuery

    rows = svc_collections.collections_list(
        CollectionsQuery(owner="0xw1", sort="dia", page=PageArgs(1, 10))
    ).collect()
    assert [r.token for r in rows] == ["c5", "c4"]  # dia desc across chains
    assert all(r.total == 2 for r in rows)
    rows = svc_collections.collections_list(
        CollectionsQuery(owner="0xw1", chain="eth", sort="dia", page=PageArgs(1, 10))
    ).collect()
    assert [r.token for r in rows] == ["c4"]
    assert all(r.total == 1 for r in rows)
    # pagination through the owner-filtered set
    rows = svc_collections.collections_list(
        CollectionsQuery(owner="0xw1", sort="dia", page=PageArgs(2, 1))
    ).collect()
    assert [r.token for r in rows] == ["c4"]


def test_collection_info_and_quick_search(svc_collections):
    assert svc_collections.collection_info("eth", "c3").count() == 1
    hits = svc_collections.quick_search_collections("legacy").collect()
    assert [r.token for r in hits] == ["c2"]
    hits = svc_collections.quick_search_collections("c3").collect()
    assert [r.token for r in hits] == ["c3"]


def test_latest_bids_for_token_auction(spark, svc):
    from decimal import Decimal as D

    from pasardassist_spark.api.schemas import ORDER_EVENTS_SCHEMA

    # token "2" has auction order 3 (and an older auction 9 we add)
    oe = spark.createDataFrame(
        [
            ("ela", "c1", 30, "0xb1", 3, "2", "s", "alice", None, D(2), 1, 1, 100),
            ("ela", "c1", 31, "0xb2", 3, "2", "s", "BOB", None, D(3), 1, 1, 200),
            ("ela", "c1", 29, "0xb0", 9, "2", "s", "carol", None, D(1), 1, 1, 50),
            ("ela", "c1", 32, "0xb3", 3, "2", "s", "dave", None, D(4), 3, 1, 300),
        ],
        ORDER_EVENTS_SCHEMA,
    )
    from pasardassist_spark.api.schemas import DID_PROFILES_SCHEMA

    did = spark.createDataFrame([("bob", "did:b", "Bobby")], DID_PROFILES_SCHEMA)
    s = PasarQueryService(svc.tokens, svc.orders, svc.token_events, oe, did_profiles=did)
    rows = s.latest_bids("2", PageArgs(1, 10)).collect()
    # only order 3's Bid events (0xb0 is another order, 0xb3 is a Filled event)
    assert [r.blockNumber for r in rows] == [31, 30]  # block desc
    assert all(r.total == 2 for r in rows)
    assert rows[0].buyerName == "Bobby"  # case-insensitive DID join
    assert "transactionHash" not in rows[0].asDict()


def test_bids_by_wallet_double_lookup(spark, svc):
    from decimal import Decimal as D

    from pasardassist_spark.api.schemas import ORDER_EVENTS_SCHEMA

    oe = spark.createDataFrame(
        [
            ("ela", "c1", 40, "0xc1", 2, "1", "s", "walt", None, D(2), 1, 1, 400),
            ("v1", "c2", 41, "0xc2", 4, "3", "s", "walt", None, D(1), 1, 1, 500),
            ("eth", "c3", 42, "0xc3", 5, "4", "s", "walt", None, D(9), 1, 1, 600),
            ("ela", "c1", 43, "0xc4", 2, "1", "s", "other", None, D(5), 1, 1, 700),
        ],
        ORDER_EVENTS_SCHEMA,
    )
    s = PasarQueryService(svc.tokens, svc.orders, svc.token_events, oe)
    rows = s.bids_by_wallet(WalletQuery(wallet="walt", chain="ela", page=PageArgs(1, 10))).collect()
    # ela aliases v1; eth excluded; other-wallet bid excluded
    assert [r.transactionHash for r in rows] == ["0xc2", "0xc1"]
    # composite-key order join + token join attach details
    by_tx = {r.transactionHash: r for r in rows}
    assert by_tx["0xc1"].token_name == "Cool Cat"  # order 2 -> ela-c1-1 -> token 1
    assert by_tx["0xc2"].order_state == 1  # order 4 on v1


def test_recent_on_sale_single_plan(svc_collections):
    rows = svc_collections.recent_on_sale(top_collections=3, per_collection=5).collect()
    # Created orders live on c1 (orders 2,3) and c2 (order 4); c3's is Filled
    got = {(r.chain, r.orderId) for r in rows}
    assert got == {("ela", 2), ("ela", 3), ("v1", 4)}
    names = {r.orderId: r.collectionName for r in rows}
    assert names[2] == "Cats Collection" and names[4] == "Legacy Stuff"
    assert {r.orderId: r.token_name for r in rows}[2] == "Cool Cat"


def test_wallet_statistics_single_pass(svc_collections):
    row = svc_collections.wallet_statistics("alice").collect()[0]
    # listed: order 2 (Created, seller alice); sold: order 5 (Filled)
    assert (row.listed, row.sold) == (1, 1)
    assert row.owned == 2  # tokens 1 and 4
    assert row.bids == 0 and row.collections == 0


def test_check_first_sale_flags(svc):
    rows = {r.tokenId: r for r in svc.check_first_sale(
        ["ela-c1-1", "ela-c1-2", "eth-c3-4"]
    ).collect()}
    # token 1: latest order Created (order 2), never Filled
    assert rows["1"].isOnSale and rows["1"].isFirstSale
    # token 2: live auction Created, never filled
    assert rows["2"].isOnSale and rows["2"].isFirstSale
    # token 4: Filled order -> not first sale, latest not Created
    assert not rows["4"].isOnSale and not rows["4"].isFirstSale


def test_collectibles_of_collection_paged(svc):
    rows = svc.collectibles_of_collection("ela", "c1", PageArgs(1, 10)).collect()
    assert [r.tokenId for r in rows] == ["2", "1"]  # createTime desc
    assert all(r.total == 2 for r in rows)
    rows = svc.collectibles_of_collection("ela", "c1", PageArgs(1, 10), keyword="dog").collect()
    assert [r.tokenId for r in rows] == ["2"]


def test_transactions_by_token(svc):
    rows = svc.transactions(
        TransactionQuery(unique_key="ela-c1-1", page=PageArgs(1, 50))
    ).collect()
    assert {r.transactionHash for r in rows} == {"0xa", "0xb", "0xc", "0xd"}
    # bare tokenId must NOT match (composite key prevents cross-chain mixing)
    assert svc.transactions(TransactionQuery(unique_key="1", page=PageArgs(1, 50))).count() == 0


def test_feeds_channels_and_did_lookup(spark, svc_full):
    # no FeedsChannel-typed tokens in the fixture: empty, not an error
    assert svc_full.feeds_channels(PageArgs(1, 10)).count() == 0
    row = svc_full.did_by_address("ALICE").collect()
    assert len(row) == 1 and row[0].name == "Alice A"  # case-insensitive


def test_market_totals(spark, svc):
    """getItems/getOwners/getTransactions/getTradingVolume as one frame:
    burned-away token excluded from items/owners; volume = filled orders
    at rate 1 (no quote token) / 1e18."""
    from pasardassist_spark.api.schemas import ORDERS_SCHEMA, TOKENS_SCHEMA

    (r,) = svc.market_totals().collect()
    assert r.items == 4 and r.owners == 3  # alice x2, bob, carol
    assert r.transactions == 5  # 3 token events + 2 order events
    # reference sums amount x PRICE x rate / 1e18 (not `filled`) — order 5's
    # price is the default 1e18 wei at rate 1
    assert abs(r.trading_volume - 1.0) < 1e-9
    # rates dim: a filled order in a quote token scales by its rate
    from decimal import Decimal

    from pasardassist_spark.api import PasarQueryService

    orders = spark.createDataFrame(
        [
            _order(orderId=1, chain="ela", baseToken="c", tokenId="1",
                   uniqueKey="ela-c-1", orderState=2, price=Decimal(2 * 10**18),
                   quoteToken="0xUSDC", amount=3),
        ],
        ORDERS_SCHEMA,
    )
    rates = spark.createDataFrame(
        [("ela", "0xusdc", 0.5)], "chain string, token string, rate double"
    )
    s = PasarQueryService(
        spark.createDataFrame([], TOKENS_SCHEMA), orders, token_rates=rates
    )
    (r2,) = s.market_totals().collect()
    assert abs(r2.trading_volume - 3 * 2 * 0.5) < 1e-9


def test_user_statistics(svc):
    (r,) = svc.user_statistics("alice").collect()
    # created: royaltyOwner is unset in fixtures -> 0; sold: order 5 filled
    assert r.sold == 1 and r.purchased == 0
    # token events from/to alice: mint to alice (0xa) + transfer out (0xb)
    # order events: bid by buyer alice (eventType 2 is ForSale, not bid) -> 0
    assert r.transactions == 2
    (b,) = svc.user_statistics("bob").collect()
    assert b.purchased == 1 and b.sold == 0


def test_transactions_of_user_excludes_platform_legs(spark, svc):
    from pasardassist_spark.api import PageArgs

    rows = svc.transactions_of_user("alice", PageArgs(1, 10)).collect()
    # alice's legs: mint (BURN->alice) is EXCLUDED (counterparty burn),
    # transfer alice->bob included, order events where alice sells: 2
    events = {(r.transactionHash, r.event) for r in rows}
    assert ("0xb", "SafeTransferFrom") in events
    assert all(tx != "0xa" for tx, _ in events), "burn-counterparty leg leaked"
    assert {tx for tx, _ in events} == {"0xb", "0xd", "0xe"}
    # event-type filter narrows
    only = svc.transactions_of_user(
        "alice", PageArgs(1, 10), event_types=("SafeTransferFrom",)
    ).collect()
    assert {r.transactionHash for r in only} == {"0xb"}


def test_incomes_of_user_roles(svc):
    import pytest as _pytest

    (s,) = svc.incomes_of_user("alice", "seller").collect()
    assert s.orderId == 5 and s.role == "seller"
    (d,) = svc.incomes_of_user("dave", "royalty").collect()
    assert d.income == Decimal(7)
    assert svc.incomes_of_user("alice", "royalty").count() == 0
    with _pytest.raises(ValueError, match="role"):
        svc.incomes_of_user("alice", "both")


def test_list_nfts_pages(svc):
    from pasardassist_spark.api import PageArgs

    rows = svc.list_nfts(PageArgs(1, 3)).collect()
    assert [r.tokenId for r in rows] == ["4", "3", "2"]  # newest first
    assert rows[0].total == 4
    rows2 = svc.list_nfts(PageArgs(2, 3)).collect()
    assert [r.tokenId for r in rows2] == ["1"]


def test_list_collectibles_branches(svc):
    from pasardassist_spark.api import PageArgs

    # default: listed + sold orders only
    rows = svc.list_collectibles(PageArgs(1, 20)).collect()
    assert {(r.uniqueKey, r.source) for r in rows} == {
        ("ela-c1-1", "listed"), ("ela-c1-2", "listed"), ("3", "listed"),
        ("eth-c3-4", "sold"),
    }
    # minted branch + time gate
    rows = svc.list_collectibles(PageArgs(1, 20), types=("minted",), after=250).collect()
    assert {r.uniqueKey for r in rows} == {"3", "eth-c3-4"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown"):
        svc.list_collectibles(PageArgs(1, 10), types=("bogus",))


def test_token_order_by_token_id(svc):
    (r,) = svc.token_order_by_token_id("1").collect()
    assert r.mint_transactionHash == "0xa"  # the from==burn event
    assert r.latest_orderId == 2  # newest order wins, cancelled older one
    # token with no events/orders: row survives with nulls
    (r3,) = svc.token_order_by_token_id("3").collect()
    assert r3.mint_transactionHash is None and r3.latest_orderId == 4


def test_attributes_of_collection(spark):
    from pasardassist_spark.api import PasarQueryService
    from pasardassist_spark.api.schemas import ORDERS_SCHEMA, TOKENS_SCHEMA

    tokens = spark.createDataFrame(
        [
            _token(tokenId="1", chain="ela", contract="c1", uniqueKey="k1",
                   attributes={"fur": "red", "eyes": "green"}),
            _token(tokenId="2", chain="ela", contract="c1", uniqueKey="k2",
                   attributes={"fur": "red", "eyes": "blue"}),
            _token(tokenId="3", chain="ela", contract="c2", uniqueKey="k3",
                   attributes={"fur": "red"}),  # other collection: excluded
        ],
        TOKENS_SCHEMA,
    )
    s = PasarQueryService(tokens, spark.createDataFrame([], ORDERS_SCHEMA))
    got = {
        (r.key, r.value): r["count"]
        for r in s.attributes_of_collection("ela", "c1").collect()
    }
    assert got == {("fur", "red"): 2, ("eyes", "green"): 1, ("eyes", "blue"): 1}


def test_quoted_tokens_rate(spark):
    from pasardassist_spark.api import PasarQueryService
    from pasardassist_spark.api.schemas import ORDERS_SCHEMA, TOKENS_SCHEMA

    rates = spark.createDataFrame(
        [("ela", "0xa", 1.0), ("eth", "0xb", 2.0)],
        "chain string, token string, rate double",
    )
    s = PasarQueryService(
        spark.createDataFrame([], TOKENS_SCHEMA),
        spark.createDataFrame([], ORDERS_SCHEMA),
        token_rates=rates,
    )
    assert [r.chain for r in s.quoted_tokens_rate().collect()] == ["ela", "eth"]
    assert [r.rate for r in s.quoted_tokens_rate("eth").collect()] == [2.0]


def test_check_health_route(spark):
    from pasardassist_spark.api import PasarQueryService
    from pasardassist_spark.api.schemas import ORDERS_SCHEMA, TOKENS_SCHEMA

    s = PasarQueryService(
        spark.createDataFrame([], TOKENS_SCHEMA),
        spark.createDataFrame([], ORDERS_SCHEMA),
    )
    assert s.check() == {"status": 200, "message": "Success"}


def test_re_get_token_detail_resets_dead_letters(spark):
    """app.service.ts:1991-1997: updateMany({notGetDetail, retryTimes > 4},
    {$set: {retryTimes: 0}}) — only capped-out rows still flagged
    notGetDetail reset; in-flight retries and resolved rows are untouched."""
    from pasardassist_spark.api import PasarQueryService

    state = spark.createDataFrame(
        [
            ("k1", 5, True),   # dead-lettered -> reset
            ("k2", 7, True),   # dead-lettered -> reset
            ("k3", 5, False),  # capped but already resolved -> untouched
            ("k4", 2, True),   # still retrying -> untouched
            ("k5", 0, False),  # fresh -> untouched
        ],
        "unique_key string, retry_times int, not_get_detail boolean",
    )
    updated, n = PasarQueryService.re_get_token_detail(state)
    assert n == 2
    got = {r.unique_key: r.retry_times for r in updated.collect()}
    assert got == {"k1": 0, "k2": 0, "k3": 5, "k4": 2, "k5": 0}
    # idempotence: a second reset pass matches the same (now-zeroed) rows
    # no longer
    updated2, n2 = PasarQueryService.re_get_token_detail(updated)
    assert n2 == 0
    assert {r.unique_key: r.retry_times for r in updated2.collect()} == got


def test_platform_price_latest_row(spark):
    """GET /price and /feeds/api/v1/price (app.controller.ts:28-38,
    app.service.ts:40-44): findOne sorted by timestamp desc — the single
    most recent feed tick, token tie-break when timestamps collide."""
    from pasardassist_spark.api import PasarQueryService
    from pasardassist_spark.api.schemas import ORDERS_SCHEMA, TOKENS_SCHEMA

    prices = spark.createDataFrame(
        [
            ("ELA", 2.5, 1000),
            ("ELA", 3.0, 3000),
            ("BTC", 9.9, 3000),  # same ts: token asc -> BTC wins the tie
            ("ELA", 2.7, 2000),
        ],
        "token string, price double, timestamp long",
    )
    s = PasarQueryService(
        spark.createDataFrame([], TOKENS_SCHEMA),
        spark.createDataFrame([], ORDERS_SCHEMA),
        token_prices=prices,
    )
    rows = s.platform_price().collect()
    assert len(rows) == 1
    assert (rows[0].token, rows[0].price, rows[0].timestamp) == ("BTC", 9.9, 3000)
    # scale shape: global top-1 must plan TakeOrderedAndProject (per-
    # partition top-1), never an unpartitioned whole-feed window
    p = s.platform_price()._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p
    with pytest.raises(ValueError):
        PasarQueryService(
            spark.createDataFrame([], TOKENS_SCHEMA),
            spark.createDataFrame([], ORDERS_SCHEMA),
        ).platform_price()


def test_collectible_of_marketplace(svc):
    """getCollectibleOfMarketplace (app.controller.ts:103-110,
    app.service.ts:759-777): the (chain, orderId) order row with its token
    embedded; a missing token preserves the order row (the
    preserveNullAndEmptyArrays $unwind)."""
    rows = svc.collectible_of_marketplace("ela", 2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.orderId == 2 and r.uniqueKey == "ela-c1-1"
    assert r.token_name == "Cool Cat" and r.token_tokenOwner == "alice"
    # no such order on that chain -> empty, not an error
    assert svc.collectible_of_marketplace("eth", 2).count() == 0
    # wrong chain for an existing orderId is NOT matched (composite key)
    assert svc.collectible_of_marketplace("ela", 5).count() == 0


def test_collectible_of_marketplace_missing_token(spark):
    from pasardassist_spark.api import PasarQueryService
    from pasardassist_spark.api.schemas import ORDERS_SCHEMA, TOKENS_SCHEMA

    orders = spark.createDataFrame(
        [_order(orderId=9, chain="ela", baseToken="c9", tokenId="9",
                uniqueKey="ela-c9-9", sellerAddr="zoe")],
        ORDERS_SCHEMA,
    )
    s = PasarQueryService(spark.createDataFrame([], TOKENS_SCHEMA), orders)
    rows = s.collectible_of_marketplace("ela", 9).collect()
    assert len(rows) == 1 and rows[0].token_name is None


def test_route_builder_parity():
    """Every reference endpoint must map to an implemented builder — the
    51/51 parity gate. The route list is pinned as a literal
    (service.ROUTES); when the reference checkout is available the literal
    is diffed against app.controller.ts, so a route added there can never
    go silently unmapped here."""
    import os
    import re

    from pasardassist_spark.api import service

    assert len(service.ROUTES) == 51
    missing = sorted(
        m for m in set(service.ROUTES.values())
        if not callable(getattr(service.PasarQueryService, m, None))
    )
    assert not missing, f"routes map to nonexistent builders: {missing}"

    controller = "/root/reference/src/modules/app/app.controller.ts"
    if not os.path.exists(controller):
        pytest.skip("reference checkout not present; literal list still checked")
    with open(controller) as f:
        ref_routes = re.findall(r"@(?:Get|Post)\('([^']+)'\)", f.read())
    assert sorted(ref_routes) == sorted(service.ROUTES), (
        "route drift vs app.controller.ts: "
        f"ref-only={sorted(set(ref_routes) - set(service.ROUTES))}, "
        f"repo-only={sorted(set(service.ROUTES) - set(ref_routes))}"
    )


# Parameters for each endpoint family perfbench's api_serving sends, over
# the svc_collections fixture (perfbench/api_serving.request_params shape).
_PAGE = {"page_num": 1, "page_size": 10}
PERFBENCH_REQUESTS = {
    "marketplace": {"status": ("BuyNow", "OnAuction"), "collection": "ela-c1",
                    "sort": "price_asc", "page": _PAGE},
    "collectibles_by_wallet": {"wallet": "alice", "page": _PAGE},
    "transactions": {"wallet": "alice", "page": _PAGE},
    "quick_search": {"keyword": "cat"},
    "token_order_by_token_id": {"token_id": "1"},
    "collections_list": {"chain": "ela", "sort": "tradeVolume", "page": _PAGE},
    "user_statistics": {"wallet": "alice"},
    "price_history": {"unique_key": "ela-c1-1"},
    "latest_bids": {"token_id": "2", "page": _PAGE},
    "market_totals": {},
}

# Spark jobs per request, counted over each family's job group on the
# svc_collections fixture when the ceilings were set. A plan change that
# adds an action or a job-running subquery shows here as a job more.
# marketplace read 7, 8 or 9 over 20 sessions: which of its query stages
# AQE still submits after an earlier one finishes is a race, so its
# ceiling is the highest count seen.
JOBS_CEILING = {
    "marketplace": 9,
    "collectibles_by_wallet": 3,
    "transactions": 3,
    "quick_search": 1,
    "token_order_by_token_id": 5,
    "collections_list": 8,
    "user_statistics": 8,
    "price_history": 2,
    "latest_bids": 5,
    "market_totals": 9,
}


def test_perfbench_families_are_all_covered():
    from perfbench.api_serving import FAMILIES

    assert set(PERFBENCH_REQUESTS) == set(FAMILIES) == set(JOBS_CEILING)


def test_building_requests_captures_no_call_site(svc_collections, monkeypatch):
    """The session turns PySpark's per-call call-site capture off
    (session.py, ``spark.python.sql.dataFrameDebugging.enabled``): building
    and running every perfbench family walks the Python stack zero times."""
    import pyspark.errors.utils as U

    from perfbench.api_serving import build_request

    calls = []
    monkeypatch.setattr(U, "_capture_call_site", lambda depth: calls.append(depth) or "")
    for family, params in PERFBENCH_REQUESTS.items():
        build_request(svc_collections, family, params).collect()
    assert calls == []


def test_jobs_per_request_ceilings(spark, svc_collections):
    from perfbench.api_serving import build_request

    sc = spark.sparkContext
    jobs = {}
    for family, params in PERFBENCH_REQUESTS.items():
        group = f"jobs-ceiling-{family}"
        sc.setJobGroup(group, family)
        try:
            build_request(svc_collections, family, params).collect()
        finally:
            sc._jsc.clearJobGroup()
        jobs[family] = len(sc.statusTracker().getJobIdsForGroup(group))
    over = {f: (n, JOBS_CEILING[f]) for f, n in jobs.items() if n > JOBS_CEILING[f]}
    assert not over, f"jobs per request above the ceiling (got, ceiling): {over}"
    assert all(n > 0 for n in jobs.values()), jobs


def test_keyword_search_matches_a_name_the_jvm_cannot_case_map(spark):
    """U+A7D0 is Unicode 14: Python's ``str.lower`` maps it to U+A7D1,
    the JVM's case tables (JDK 17, Unicode 13) leave it as it is. The
    keyword and the column go through the same ``lower``, so a token is
    found by its own name whichever table the engine uses."""
    from pasardassist_spark.api.schemas import TOKENS_SCHEMA

    name = chr(0xA7D0) + " one"
    tokens = spark.createDataFrame(
        [_token(tokenId="7", chain="ela", contract="c7", uniqueKey="ela-c7-7",
                name=name, description="d", tokenOwner="x", tokenMinter="x")],
        TOKENS_SCHEMA,
    )
    s = PasarQueryService(tokens, spark.createDataFrame([], ORDERS_SCHEMA))
    for kw in (name, chr(0xA7D0)):
        assert [r.tokenId for r in s.quick_search(kw).collect()] == ["7"]
        assert [r.tokenId for r in s.search_tokens(kw).collect()] == ["7"]
