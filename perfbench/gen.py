"""Seeded input generators for the workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files, a different seed different ones
(``perfbench/tests/test_gen.py``). No Spark session is involved, so
generation time is the generator's own and the tables reach Spark only
through the package's public readers.

- ``entity_tables``: the reference-domain entity tables the API serves
  (tokens, orders, token_events, order_events, collections), with the
  FIXTURES.md section A domains and the ``api/schemas.py`` schemas: mints
  and burns are about 10% each of token_events, ``value`` is 1 for
  ERC-721 and 1-100 for ERC-1155 tokens, and ``uniqueKey`` is the bare
  tokenId in a base collection and ``{chain}-{contract}-{tokenId}``
  elsewhere. Tokens and orders cluster on popular collections and wallets
  with a Zipf skew, the popular-collection skew of SURVEY section 4.
  Choices section A leaves open are named where they are made
  (``ERC1155_SHARE``, ``ZIPF_S``, the base collections).
- ``tpch_tables``: the TPC-H-shaped star schema plus events, documents and
  embeddings that the query registry reads (TESTDATA.md), at a chosen
  scale.
- ``event_files``: the event log the streaming backfill replays, sorted by
  event time.
"""

from __future__ import annotations

import decimal
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from pasardassist_spark.api import schemas as S

BURN = "0x" + "0" * 40
CHAINS = np.array(["ela", "eth", "fsn", "v1"])
CHAIN_P = [0.5, 0.3, 0.1, 0.1]
CATEGORIES = np.array(
    ["general", "art", "collectibles", "photography", "trading cards", "utility", "domain"]
)
TOKEN_TYPES = np.array(["image", "avatar", "video", "FeedsChannel"])
WORDS = np.array(
    "alpha bright cosmic dream ember frost glitch harbor ivory jade kinetic lunar "
    "mosaic neon orbit pixel quartz rune solar tidal ultra velvet wave xeno yonder zen".split()
)
NOUNS = np.array("cat ape punk bird robot skull gem tree ship mask".split())
ENTITY_T0 = 1_640_995_200  # 2022-01-01T00:00:00Z, epoch seconds
ENTITY_SPAN = 365 * 86_400
# The API clock (``now_seconds``) sits inside the order window so auction
# liveness splits live and ended auctions.
API_NOW = ENTITY_T0 + int(ENTITY_SPAN * 0.8)

# Entity volumes (rows). The fact tables are about the size of the sf0.1
# event table (100k rows), which keeps a request's data small enough that
# its fixed planning and scheduling cost dominates.
ENTITY_ROWS = {"collections": 48, "wallets": 1500, "tokens": 12_000, "orders": 24_000}
# token_events: one mint per token and section A's ~10% mint share give
# about ten events per token; burns take ~10% of all events as well.
TOKEN_EVENTS_PER_TOKEN = 10
BURN_SHARE = 0.10
# Assumptions with no measured source: the share of ERC-1155 collections,
# and the Zipf exponent of collection and wallet popularity.
ERC1155_SHARE = 0.25
ZIPF_S = 1.1


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    """Normalised Zipf(s) weights over ranks 1..n."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _addresses(rng: np.random.Generator, n: int) -> np.ndarray:
    raw = rng.integers(0, 256, size=(n, 20), dtype=np.uint8)
    return np.array(["0x" + r.tobytes().hex() for r in raw])


def _unique_ints(rng: np.random.Generator, n: int, high: int) -> np.ndarray:
    """n distinct int64 values in [0, high), drawn without a high-sized array."""
    out = np.unique(rng.integers(0, high, size=int(n * 1.2) + 16))
    while len(out) < n:
        out = np.unique(np.concatenate([out, rng.integers(0, high, size=n)]))
    return rng.permutation(out)[:n]


def _phrase(rng: np.random.Generator, n: int, lo: int, hi: int, vocab=WORDS) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    flat = rng.choice(vocab, size=int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(flat[i : i + k]))
        i += k
    return out


def _wei(values: np.ndarray) -> pa.Array:
    """Token amounts with 4 decimals -> exact DECIMAL(38,0) wei."""
    scale = 10**14
    return pa.array(
        [decimal.Decimal(int(v) * scale) for v in values], type=pa.decimal128(38, 0)
    )


def _column(values, arrow_type: pa.DataType) -> pa.Array:
    if isinstance(values, pa.Array):
        return values.cast(arrow_type)
    if isinstance(values, np.ndarray) and values.dtype == object:
        values = values.tolist()
    return pa.array(values, arrow_type)


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def entity_tables(seed: int, out_dir: str) -> tuple[dict[str, str], dict]:
    """Write the five API entity tables under ``out_dir``. Returns
    (name -> parquet path, key domains for request parameters), where the
    key domains list wallets and collections in Zipf popularity order."""
    rng = np.random.default_rng([seed, 1])
    n_col, n_wal = ENTITY_ROWS["collections"], ENTITY_ROWS["wallets"]
    n_tok, n_ord = ENTITY_ROWS["tokens"], ENTITY_ROWS["orders"]
    wallets = _addresses(rng, n_wal)
    wallet_w = zipf_weights(n_wal)

    # collections ----------------------------------------------------------
    col_chain = rng.choice(CHAINS, size=n_col, p=CHAIN_P)
    col_token = _addresses(rng, n_col)
    col_names = [f"{a.title()} {b.title()}s" for a, b in zip(
        rng.choice(WORDS, n_col), rng.choice(NOUNS, n_col))]
    col_desc = _phrase(rng, n_col, 4, 10)
    dia = np.round(rng.uniform(0, 5000, n_col), 2) + np.arange(n_col) * 1e-3
    col_1155 = rng.random(n_col) < ERC1155_SHARE
    # the base collection of a chain (its marketplace's own contract, whose
    # tokens are keyed by bare tokenId) is the chain's most popular one
    col_base = np.zeros(n_col, bool)
    for c in CHAINS:
        ranks = np.nonzero(col_chain == c)[0]
        if len(ranks):
            col_base[ranks[0]] = True
    collections = {
        "chain": col_chain,
        "token": col_token,
        "owner": rng.choice(wallets, n_col, p=wallet_w),
        "name": col_names,
        "uri": [f"ipfs://Qm{h}" for h in _addresses(rng, n_col)],
        "version": pa.array(rng.integers(1, 3, n_col), pa.int32()),
        "creator": [{"did": f"did:elastos:{a[2:12]}", "name": n}
                    for a, n in zip(col_token, col_names)],
        "data": [{"description": d, "category": c}
                 for d, c in zip(col_desc, rng.choice(CATEGORIES, n_col))],
        "dia": dia,
    }

    # tokens: collection by Zipf rank (popular collections hold most items)
    t_col = rng.choice(n_col, size=n_tok, p=zipf_weights(n_col))
    t_id = _unique_ints(rng, n_tok, 10**12)
    t_chain, t_contract = col_chain[t_col], col_token[t_col]
    t_minter = rng.choice(wallets, n_tok, p=wallet_w)
    t_owner = np.where(rng.random(n_tok) < 0.6, t_minter, rng.choice(wallets, n_tok, p=wallet_w))
    t_owner = np.where(rng.random(n_tok) < 0.03, BURN, t_owner)
    t_create = ENTITY_T0 + np.sort(rng.integers(0, ENTITY_SPAN // 2, n_tok))
    t_block = 1_000_000 + (t_create - ENTITY_T0) // 5
    t_name = [f"{w.title()} {n.title()} #{i}" for w, n, i in zip(
        rng.choice(WORDS, n_tok), rng.choice(NOUNS, n_tok), rng.integers(1, 10_000, n_tok))]
    t_desc = _phrase(rng, n_tok, 3, 12)
    t_uk = np.array([str(i) if b else f"{c}-{k}-{i}"
                     for c, k, i, b in zip(t_chain, t_contract, t_id, col_base[t_col])])
    t_idstr = np.array([str(i) for i in t_id])
    t_fee = rng.choice([0, 25_000, 50_000, 100_000], n_tok)
    attr_keys = rng.choice(["background", "eyes", "hat", "mouth"], size=n_tok)
    tokens = {
        "tokenId": t_idstr,
        "tokenIdHex": [hex(int(i)) for i in t_id],
        "chain": t_chain,
        "contract": t_contract,
        "uniqueKey": t_uk,
        "tokenSupply": np.ones(n_tok, np.int64),
        "tokenOwner": t_owner,
        "tokenUri": [f"pasar:json:Qm{i:x}" for i in t_id],
        "royaltyOwner": t_minter,
        "royaltyFee": t_fee,
        "tokenMinter": t_minter,
        "createTime": t_create,
        "updateTime": t_create + rng.integers(0, 86_400 * 30, n_tok),
        "blockNumber": t_block,
        "version": rng.integers(1, 3, n_tok),
        "type": rng.choice(TOKEN_TYPES, n_tok, p=[0.7, 0.15, 0.1, 0.05]),
        "name": t_name,
        "description": t_desc,
        "creator": [{"did": f"did:elastos:{m[2:12]}", "name": f"artist {m[2:6]}"}
                    for m in t_minter],
        "data": [{"image": f"ipfs://img{i:x}", "kind": "png", "size": int(s)}
                 for i, s in zip(t_id, rng.integers(1_000, 500_000, n_tok))],
        "adult": rng.random(n_tok) < 0.05,
        "properties": [[("edition", "1")]] * n_tok,
        "attributes": [[(k, v)] for k, v in zip(
            attr_keys, rng.choice(["red", "blue", "gold", "none"], n_tok))],
        "notGetDetail": np.zeros(n_tok, bool),
        "retryTimes": rng.integers(0, 6, n_tok),
    }

    # orders: tokens of popular collections trade more --------------------
    tok_p = zipf_weights(n_col)[t_col] / zipf_weights(n_col)[t_col].sum()
    o_tok = rng.choice(n_tok, size=n_ord, p=tok_p)
    o_type = np.where(rng.random(n_ord) < 0.3, 2, 1).astype(np.int32)
    o_state = rng.choice(np.array([1, 2, 3], np.int32), n_ord, p=[0.4, 0.45, 0.15])
    o_create = t_create[o_tok] + rng.integers(60, ENTITY_SPAN // 2, n_ord)
    o_price = rng.integers(1, 5_000_000, n_ord)  # 0.0001 .. 500 ELA
    o_seller = t_minter[o_tok]
    o_buyer = np.where(o_state == 2, rng.choice(wallets, n_ord, p=wallet_w), None)
    o_end = np.where(o_type == 2, o_create + rng.integers(86_400, 30 * 86_400, n_ord), 0)
    o_bids = np.where(o_type == 2, rng.poisson(1.5, n_ord), 0).astype(np.int32)
    o_quote = np.where(rng.random(n_ord) < 0.9, BURN, "0x" + "ab" * 20)
    order_id = rng.permutation(n_ord).astype(np.int64) + 1
    orders = {
        "orderId": order_id,
        "chain": t_chain[o_tok],
        "contract": t_contract[o_tok],
        "baseToken": t_contract[o_tok],
        "tokenId": t_idstr[o_tok],
        "uniqueKey": t_uk[o_tok],
        "orderType": o_type,
        "orderState": o_state,
        "amount": np.ones(n_ord, np.int64),
        "quoteToken": o_quote,
        "price": _wei(o_price),
        "filled": _wei(np.where(o_state == 2, o_price, 0)),
        "lastBid": _wei(np.where(o_bids > 0, o_price, 0)),
        "buyoutPrice": _wei(np.where(o_type == 2, o_price * 3, 0)),
        "reservePrice": _wei(np.where(o_type == 2, o_price // 2, 0)),
        "startTime": o_create,
        "endTime": o_end,
        "createTime": o_create,
        "updateTime": o_create + rng.integers(0, 40 * 86_400, n_ord),
        "sellerAddr": o_seller,
        "buyerAddr": o_buyer,
        "lastBidder": np.where(o_bids > 0, rng.choice(wallets, n_ord), None),
        "bids": o_bids,
        "royaltyOwners": [[m] for m in o_seller],
        "royaltyFees": [[int(f)] for f in t_fee[o_tok]],
        "platformFee": rng.integers(0, 20_000, n_ord),
        "isBlindBox": rng.random(n_ord) < 0.02,
    }

    # token_events: one mint per token at its creation, then transfers and
    # burns on tokens of popular collections, each later event drawn on
    # its own (a burn does not end a token's history)
    n_more = n_tok * (TOKEN_EVENTS_PER_TOKEN - 1)
    x_tok = rng.choice(n_tok, size=n_more, p=tok_p)
    x_from = rng.choice(wallets, n_more, p=wallet_w)
    x_burn = rng.random(n_more) < BURN_SHARE * TOKEN_EVENTS_PER_TOKEN / (TOKEN_EVENTS_PER_TOKEN - 1)
    x_to = np.where(x_burn, BURN, rng.choice(wallets, n_more, p=wallet_w))
    te_tok = np.concatenate([np.arange(n_tok), x_tok])
    te_time = np.concatenate([t_create, t_create[x_tok] + rng.integers(60, ENTITY_SPAN // 2, n_more)])
    n_te = len(te_tok)
    te_hash = _addresses(rng, n_te)
    te_value = np.where(col_1155[t_col[te_tok]], rng.integers(1, 101, n_te), 1)
    token_events = {
        "chain": t_chain[te_tok],
        "contract": t_contract[te_tok],
        "blockNumber": 1_000_000 + (te_time - ENTITY_T0) // 5,
        "transactionHash": [h + h[2:26] for h in te_hash],
        "from": np.concatenate([np.full(n_tok, BURN), x_from]),
        "to": np.concatenate([t_minter, x_to]),
        "tokenId": t_idstr[te_tok],
        "operator": np.concatenate([t_minter, x_from]),
        "value": te_value,
        "gasFee": rng.integers(10_000, 900_000, n_te),
        "timestamp": te_time,
    }

    # order_events: list -> bids -> price change? -> fill | cancel ---------
    ev_order = [np.arange(n_ord)]
    ev_type = [np.where(o_type == 2, 0, 2)]
    ev_dt = [np.zeros(n_ord, np.int64)]
    bid_rows = np.repeat(np.arange(n_ord), o_bids)
    ev_order.append(bid_rows)
    ev_type.append(np.ones(len(bid_rows), np.int64))
    ev_dt.append(rng.integers(60, 86_400, len(bid_rows)))
    pc = np.nonzero(rng.random(n_ord) < 0.2)[0]
    ev_order.append(pc)
    ev_type.append(np.full(len(pc), 5))
    ev_dt.append(rng.integers(60, 86_400, len(pc)))
    done = np.nonzero(o_state != 1)[0]
    ev_order.append(done)
    ev_type.append(np.where(o_state[done] == 2, 3, 4))
    ev_dt.append(np.full(len(done), 2 * 86_400))
    oe_o = np.concatenate(ev_order)
    oe_type = np.concatenate(ev_type).astype(np.int32)
    oe_time = o_create[oe_o] + np.concatenate(ev_dt)
    n_oe = len(oe_o)
    oe_hash = _addresses(rng, n_oe)
    oe_buyer = np.where(oe_type == 1, rng.choice(wallets, n_oe, p=wallet_w),
                        np.where(oe_type == 3, o_buyer[oe_o], None))
    order_events = {
        "chain": t_chain[o_tok][oe_o],
        "baseToken": t_contract[o_tok][oe_o],
        "blockNumber": 1_000_000 + (oe_time - ENTITY_T0) // 5,
        "transactionHash": [h + h[2:26] for h in oe_hash],
        "orderId": order_id[oe_o],
        "tokenId": t_idstr[o_tok][oe_o],
        "seller": o_seller[oe_o],
        "buyer": oe_buyer,
        "quoteToken": o_quote[oe_o],
        "price": _wei(o_price[oe_o] + (oe_type == 1) * rng.integers(1, 10_000, n_oe)),
        "eventType": oe_type,
        "gasFee": rng.integers(10_000, 900_000, n_oe),
        "timestamp": oe_time,
    }

    tables = {
        "collections": (collections, S.COLLECTIONS_SCHEMA),
        "tokens": (tokens, S.TOKENS_SCHEMA),
        "orders": (orders, S.ORDERS_SCHEMA),
        "token_events": (token_events, S.TOKEN_EVENTS_SCHEMA),
        "order_events": (order_events, S.ORDER_EVENTS_SCHEMA),
    }
    keys = {
        "wallets": wallets,
        "collections": [f"{c}-{t}" for c, t in zip(col_chain, col_token)],
        "collection_chain": col_chain,
        "collection_token": col_token,
        # token index lists per collection rank, and which tokens were auctioned
        "tokens_by_collection": [np.nonzero(t_col == c)[0] for c in range(n_col)],
        "token_ids": t_idstr,
        "unique_keys": t_uk,
        "auctioned": np.unique(o_tok[o_type == 2]),
    }
    out = {}
    for name, (cols, schema) in tables.items():
        arrow = to_arrow_schema(schema)
        table = pa.Table.from_pydict(
            {f.name: _column(cols[f.name], f.type) for f in arrow}, schema=arrow
        )
        out[name] = _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return out, keys


# --- TPC-H-shaped tables for the query registry -------------------------------

DOC_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split()
)
PART_ADJ = np.array("large hot blue old cold red small".split())
PART_NOUN = np.array("ring bolt plate gear widget rod anvil gizmo".split())
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000
EVENTS_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """The ``events`` log (TESTDATA.md schema), sorted by ts; event ids
    follow time order and timestamps are distinct."""
    gaps = rng.integers(1, 60_000_000, n)
    ts = EVENTS_T0_US + np.cumsum(gaps)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def tpch_tables(seed: int, out_dir: str, sf: float) -> dict[str, str]:
    """Write region nation customer supplier part orders lineitem events
    documents embeddings under ``out_dir`` (TESTDATA.md schemas; row
    counts scale with ``sf`` like the TESTDATA.md tables: lineitem 6M x sf)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = n_ord * 4
    n_ev = max(int(1_000_000 * sf), 500)
    n_docs = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 200)
    out = {}

    def put(name, table):
        out[name] = _write(table, os.path.join(out_dir, f"{name}.parquet"))

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    put("customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], n_cust),
    }))
    put("supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))
    put("part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }))
    o_date = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    put("orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }))
    l_ok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(o_date[l_ok] + rng.integers(1, 122, n_line) * DAY_US),
    }))
    put("events", events_table(rng, n_ev, max(n_ev // 66, 10)))

    # documents: 5% near-duplicates of an earlier original (its text plus
    # " dup"; a few exact copies). Copies of originals only, never of a
    # copy, so the duplicate clusters are stars and the number of
    # connected-components rounds does not swing with the seed.
    texts = _phrase(rng, n_docs, 10, 100, DOC_WORDS)
    is_dup = rng.random(n_docs) < 0.05
    is_dup[0] = False
    for i in np.nonzero(is_dup)[0]:
        originals = np.nonzero(~is_dup[:i])[0]
        j = int(rng.choice(originals))
        texts[i] = texts[j] + (" dup" if rng.random() < 0.95 else "")
    put("documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    }))

    # embeddings: 10 label clusters, unit norm, dim 64. Their own random
    # stream, so the ANN recall floor calibrated on them does not move when
    # another table's generator changes.
    erng = np.random.default_rng([seed, 2, 1])
    labels = erng.integers(0, 10, n_emb)
    centers = erng.normal(0, 1, (10, 64))
    x = centers[labels] * 0.6 + erng.normal(0, 1, (n_emb, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    put("embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
    return out


def event_files(seed: int, out_dir: str, n_events: int, n_users: int, n_files: int) -> list[str]:
    """Write the stream's event log as ``n_files`` parquet files of
    consecutive event-time ranges, returned in replay order."""
    rng = np.random.default_rng([seed, 3])
    table = events_table(rng, n_events, n_users)
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n_events, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"events-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths
