"""DuckDB oracles for the API endpoint families, over the same generated
parquet files the Spark service reads.

Each oracle returns the columns of the reply it checks (the page's keys,
the total, the aggregates); :meth:`Oracle.matches` compares them with the
same columns of the Spark reply as a multiset. The SQL restates each
endpoint's documented semantics in ``pasardassist_spark/api/service.py``
independently of the DataFrame code.
"""

from __future__ import annotations

import decimal
import math

import duckdb

from pasardassist_spark.api.dto import COLLECTION_SORTS
from perfbench.gen import API_NOW, BURN

# family -> reply columns compared with the oracle
CHECKED = {
    "marketplace": ("orderId", "total"),
    "collectibles_by_wallet": ("uniqueKey", "total"),
    "transactions": ("transactionHash", "event", "total"),
    "quick_search": ("uniqueKey",),
    "token_order_by_token_id": (
        "uniqueKey", "mint_transactionHash", "latest_orderId", "latest_orderState", "latest_price"),
    "collections_list": (
        "chain", "token", "items", "owners", "tradeVolume", "lowestPrice", "total"),
    "user_statistics": ("created", "sold", "purchased", "transactions"),
    "price_history": ("updateTime", "price"),
    "latest_bids": ("orderId", "blockNumber", "buyer", "price", "total"),
    "market_totals": ("items", "transactions", "owners", "trading_volume"),
}

_ORDER_EVENT_NAMES = (
    "CASE eventType WHEN 0 THEN 'OrderForAuction' WHEN 1 THEN 'OrderBid' "
    "WHEN 2 THEN 'OrderForSale' WHEN 3 THEN 'OrderFilled' WHEN 4 THEN 'OrderCancelled' "
    "WHEN 5 THEN 'OrderPriceChanged' END"
)


def _lit(v) -> str:
    if v is None:
        return "NULL"
    return "'" + str(v).replace("'", "''") + "'"


def _page(p: dict) -> str:
    size, num = p["page"]["page_size"], p["page"]["page_num"]
    return f"LIMIT {size} OFFSET {(num - 1) * size}"


def _chain(chain: str | None, col: str = "chain") -> str:
    if chain is None:
        return "TRUE"
    if chain == "ela":
        return f"{col} IN ('ela', 'v1')"
    return f"{col} = {_lit(chain)}"


def _paged(body: str, order: str, p: dict, cols: str) -> str:
    return (
        f"WITH f AS ({body}) SELECT {cols}, (SELECT count(*) FROM f) AS total "
        f"FROM f ORDER BY {order} {_page(p)}"
    )


def sql(family: str, p: dict) -> str:
    """Oracle SQL for one request."""
    if family == "marketplace":
        status = {
            "BuyNow": "o.orderType = 1",
            "OnAuction": f"o.orderType = 2 AND (o.endTime = 0 OR o.endTime > {API_NOW})",
            "HasEnded": f"o.orderType = 2 AND o.endTime <> 0 AND o.endTime <= {API_NOW}",
            "HasBids": "o.orderType = 2 AND o.bids > 0",
        }
        where = ["o.orderState = 1"]
        if p["status"]:
            where.append("(" + " OR ".join(f"({status[s]})" for s in p["status"]) + ")")
        if p["collection"]:
            where.append(f"o.chain || '-' || o.baseToken = {_lit(p['collection'])}")
        order = {
            "createTime": "createTime DESC NULLS LAST, orderId DESC",
            "price_asc": "price ASC NULLS FIRST, orderId DESC",
            "price_desc": "price DESC NULLS LAST, orderId DESC",
            "endTime": "endTime ASC NULLS FIRST, orderId DESC",
            "token_createTime": "token_createTime DESC NULLS LAST, orderId DESC",
        }[p["sort"]]
        body = (
            "SELECT o.*, t.createTime AS token_createTime FROM orders o "
            "LEFT JOIN tokens t ON o.uniqueKey = t.uniqueKey WHERE " + " AND ".join(where)
        )
        return _paged(body, order, p, "orderId")
    if family == "collectibles_by_wallet":
        body = f"SELECT * FROM tokens WHERE tokenOwner = {_lit(p['wallet'])}"
        return _paged(body, "createTime DESC, tokenId DESC, uniqueKey ASC", p, "uniqueKey")
    if family == "transactions":
        w = _lit(p["wallet"])
        body = f"""
            SELECT transactionHash, {_ORDER_EVENT_NAMES} AS event, timestamp,
                   seller AS addr_from, buyer AS addr_to FROM order_events
            UNION ALL
            SELECT transactionHash,
                   CASE WHEN "from" = '{BURN}' THEN 'Mint'
                        WHEN "to" = '{BURN}' THEN 'Burn'
                        ELSE 'SafeTransferFrom' END AS event, timestamp,
                   "from" AS addr_from, "to" AS addr_to FROM token_events"""
        body = f"SELECT * FROM ({body}) u WHERE addr_from = {w} OR addr_to = {w}"
        return _paged(body, "timestamp DESC, transactionHash ASC, event ASC", p,
                      "transactionHash, event")
    if family == "quick_search":
        kw = _lit(p["keyword"].lower())
        return f"""
            SELECT uniqueKey FROM tokens
            WHERE instr(lower(name), {kw}) > 0 OR instr(lower(description), {kw}) > 0
               OR instr(lower(creator.name), {kw}) > 0
            ORDER BY createTime DESC, tokenId DESC LIMIT 3"""
    if family == "token_order_by_token_id":
        tid = _lit(p["token_id"])
        return f"""
            WITH mint AS (
                SELECT transactionHash FROM token_events
                WHERE tokenId = {tid} AND "from" = '{BURN}'
                ORDER BY blockNumber DESC, transactionHash ASC LIMIT 1),
            latest AS (
                SELECT orderId, orderState, price FROM orders WHERE tokenId = {tid}
                ORDER BY createTime DESC, orderId DESC LIMIT 1)
            SELECT t.uniqueKey,
                   (SELECT transactionHash FROM mint) AS mint_transactionHash,
                   (SELECT orderId FROM latest) AS latest_orderId,
                   (SELECT orderState FROM latest) AS latest_orderState,
                   (SELECT price FROM latest) AS latest_price
            FROM tokens t WHERE t.tokenId = {tid}"""
    if family == "collections_list":
        if p["sort"] not in COLLECTION_SORTS:
            raise ValueError(p["sort"])
        body = f"""
            WITH tok AS (
                SELECT chain, contract, count(*) AS items,
                       count(DISTINCT tokenOwner) AS owners
                FROM tokens GROUP BY chain, contract),
            ord AS (
                SELECT chain, baseToken AS contract,
                       sum(CASE WHEN orderState = 2 THEN filled END) AS tradeVolume,
                       min(CASE WHEN orderState = 1 THEN price END) AS lowestPrice
                FROM orders GROUP BY chain, baseToken),
            stats AS (
                SELECT tok.*, ord.tradeVolume, ord.lowestPrice
                FROM tok LEFT JOIN ord USING (chain, contract))
            SELECT c.chain, c.token, c.dia, s.items, s.owners, s.tradeVolume, s.lowestPrice
            FROM collections c LEFT JOIN stats s
              ON c.chain = s.chain AND c.token = s.contract
            WHERE {_chain(p["chain"], "c.chain")}"""
        return _paged(body, f'"{p["sort"]}" DESC NULLS LAST, chain ASC, token ASC', p,
                      "chain, token, items, owners, tradeVolume, lowestPrice")
    if family == "user_statistics":
        w = _lit(p["wallet"])
        return f"""
            SELECT
              (SELECT count(*) FROM tokens WHERE royaltyOwner = {w}) AS created,
              (SELECT count(*) FROM orders WHERE sellerAddr = {w} AND orderState = 2) AS sold,
              (SELECT count(*) FROM orders WHERE buyerAddr = {w} AND orderState = 2) AS purchased,
              (SELECT count(*) FROM token_events WHERE "from" = {w} OR "to" = {w})
              + (SELECT count(*) FROM order_events
                 WHERE (buyer = {w} AND eventType = 1)
                    OR (seller = {w} AND eventType = 5)) AS transactions"""
    if family == "price_history":
        return f"""
            SELECT updateTime, filled AS price FROM orders
            WHERE uniqueKey = {_lit(p["unique_key"])} AND orderState = 2"""
    if family == "latest_bids":
        tid = _lit(p["token_id"])
        body = f"""
            WITH auction AS (
                SELECT chain, orderId, row_number() OVER (
                    PARTITION BY chain, tokenId ORDER BY createTime DESC, orderId DESC) AS rn
                FROM orders WHERE tokenId = {tid} AND orderType = 2)
            SELECT e.* FROM order_events e
            WHERE e.eventType = 1 AND EXISTS (
                SELECT 1 FROM auction a
                WHERE a.rn = 1 AND a.orderId = e.orderId AND a.chain = e.chain)"""
        return _paged(body, "blockNumber DESC, transactionHash DESC", p,
                      "orderId, blockNumber, buyer, price")
    if family == "market_totals":
        return f"""
            SELECT
              (SELECT count(*) FROM tokens WHERE tokenOwner <> '{BURN}') AS items,
              (SELECT count(*) FROM token_events) + (SELECT count(*) FROM order_events)
                AS transactions,
              (SELECT count(DISTINCT tokenOwner) FROM tokens WHERE tokenOwner <> '{BURN}')
                AS owners,
              (SELECT coalesce(sum(coalesce(amount, 1) * CAST(price AS DOUBLE) / 1e18), 0.0)
               FROM orders
               WHERE orderState = 2 AND (quoteToken IS NULL OR quoteToken = '{BURN}'))
                AS trading_volume"""
    raise ValueError(family)


def _canon(v):
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        return None if math.isnan(v) else v
    return v


def _same(a: tuple, b: tuple) -> bool:
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None:
                return x is y
            if not math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True


class Oracle:
    def __init__(self, paths: dict[str, str]) -> None:
        self.con = duckdb.connect()
        for name, path in paths.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({_lit(path)})")

    def rows(self, family: str, p: dict) -> list[tuple]:
        cur = self.con.execute(sql(family, p))
        names = [d[0] for d in cur.description]
        cols = CHECKED[family]
        idx = [names.index(c) for c in cols]
        return [tuple(_canon(r[i]) for i in idx) for r in cur.fetchall()]

    def matches(self, family: str, p: dict, spark_rows) -> bool:
        cols = CHECKED[family]
        got = sorted((tuple(_canon(r[c]) for c in cols) for r in spark_rows), key=repr)
        want = sorted(self.rows(family, p), key=repr)
        return len(got) == len(want) and all(_same(a, b) for a, b in zip(got, want))

    def close(self) -> None:
        self.con.close()
