"""Workload ``api_serving``: one closed-loop client calling
``api.PasarQueryService`` over the bucketed silver entity tables.

Each round sends every endpoint family once, in a fixed order, with
seeded page-sized parameters drawn with a Zipf skew over collections and
wallets; the client waits for each reply (``collect``) before the next
request and runs ``caching.release_all`` between requests. A window is
whole rounds, and the first round is the service's first: each endpoint
pays its first plan, as in a freshly deployed service.

Many tiny plans over small data: per-request fixed cost (analysis,
planning, stage and task scheduling, broadcasts, tiny shuffles)
dominates, so a plan- or stage-count change shows here and a
shuffle-volume or Python-worker change should not.

Every reply is checked against a DuckDB oracle over the generated parquet
files (:mod:`perfbench.api_oracles`).
"""

from __future__ import annotations

import os
import time

import numpy as np

from pasardassist_spark.api.dto import COLLECTION_SORTS
from perfbench import api_oracles, gen
from perfbench.harness import Outcome, Workload
from perfbench.stats import median
from perfbench.status import final_exchanges
from perfbench.trace import job_intervals, union_length

FAMILIES = (
    "marketplace",
    "collectibles_by_wallet",
    "transactions",
    "quick_search",
    "token_order_by_token_id",
    "collections_list",
    "user_statistics",
    "price_history",
    "latest_bids",
    "market_totals",
)
MARKET_SORTS = ("createTime", "price_asc", "price_desc", "endTime", "token_createTime")
STATUS_TAGS = ("BuyNow", "OnAuction", "HasEnded", "HasBids")
KEYWORDS = tuple(gen.WORDS[:12]) + tuple(gen.NOUNS)
# A window starts right after set-up, with no warm-up round. The first
# round takes about twice as long as a later one, so a window of one round
# holds first requests only and its median does not fall between a cold
# and a warm group. The family order is fixed: in a first round a
# request's time depends on what ran before it, so a seeded order would
# move the median with the seed.
MIN_ROUNDS = 1


def _zipf_pick(rng: np.random.Generator, items):
    return items[rng.choice(len(items), p=gen.zipf_weights(len(items)))]


def request_params(rng: np.random.Generator, family: str, keys: dict) -> dict:
    """Seeded parameters for one request of ``family``."""
    page = {"page_num": int(rng.integers(1, 4)), "page_size": int(rng.choice([10, 20]))}
    wallet = str(_zipf_pick(rng, keys["wallets"]))

    def token_index() -> int:
        col = rng.choice(len(keys["collections"]), p=gen.zipf_weights(len(keys["collections"])))
        members = keys["tokens_by_collection"][col]
        if len(members) == 0:
            members = keys["auctioned"]
        return int(rng.choice(members))

    if family == "marketplace":
        tags = tuple(t for t in STATUS_TAGS if rng.random() < 0.4)
        coll = str(_zipf_pick(rng, keys["collections"])) if rng.random() < 0.5 else None
        return {"status": tags, "collection": coll,
                "sort": str(rng.choice(MARKET_SORTS)), "page": page}
    if family == "collectibles_by_wallet":
        return {"wallet": wallet, "page": page}
    if family == "transactions":
        return {"wallet": wallet, "page": page}
    if family == "quick_search":
        return {"keyword": str(rng.choice(KEYWORDS))}
    if family == "token_order_by_token_id":
        return {"token_id": str(keys["token_ids"][token_index()])}
    if family == "collections_list":
        chain = str(rng.choice(gen.CHAINS)) if rng.random() < 0.5 else None
        return {"chain": chain, "sort": str(rng.choice(COLLECTION_SORTS)),
                "page": page}
    if family == "user_statistics":
        return {"wallet": wallet}
    if family == "price_history":
        return {"unique_key": str(keys["unique_keys"][token_index()])}
    if family == "latest_bids":
        return {"token_id": str(keys["token_ids"][int(rng.choice(keys["auctioned"]))]),
                "page": page}
    if family == "market_totals":
        return {}
    raise ValueError(family)


def build_request(svc, family: str, p: dict):
    """The endpoint's lazy DataFrame for parameters ``p``."""
    from pasardassist_spark.api import dto as D

    page = D.PageArgs(**p["page"]) if "page" in p else None
    if family == "marketplace":
        return svc.marketplace(D.MarketplaceQuery(
            status=p["status"], collection=p["collection"], sort=p["sort"],
            page=page, now_seconds=gen.API_NOW))
    if family == "collectibles_by_wallet":
        return svc.collectibles_by_wallet(D.WalletQuery(wallet=p["wallet"], page=page))
    if family == "transactions":
        return svc.transactions(D.TransactionQuery(wallet=p["wallet"], page=page))
    if family == "quick_search":
        return svc.quick_search(p["keyword"])
    if family == "token_order_by_token_id":
        return svc.token_order_by_token_id(p["token_id"])
    if family == "collections_list":
        return svc.collections_list(D.CollectionsQuery(chain=p["chain"], sort=p["sort"], page=page))
    if family == "user_statistics":
        return svc.user_statistics(p["wallet"])
    if family == "price_history":
        return svc.price_history(p["unique_key"])
    if family == "latest_bids":
        return svc.latest_bids(p["token_id"], page)
    if family == "market_totals":
        return svc.market_totals()
    raise ValueError(family)


def requests(seed: int, keys: dict):
    """Endless seeded request sequence: rounds of every family once."""
    rng = np.random.default_rng([seed, 4])
    while True:
        for family in FAMILIES:
            yield family, request_params(rng, family, keys)


class ApiServing(Workload):
    name = "api_serving"

    def generate(self) -> None:
        self.paths, self.keys = gen.entity_tables(
            self.seed, os.path.join(self.run_dir, "entities"))

    def setup(self, spark, rep: int, tracer) -> None:
        from pasardassist_spark.api import PasarQueryService
        from pasardassist_spark.api import schemas as S
        from pasardassist_spark.sources.lake import prepare_entity_silver

        def read(name, schema):
            return spark.read.schema(schema).parquet(self.paths[name])

        tokens, orders = read("tokens", S.TOKENS_SCHEMA), read("orders", S.ORDERS_SCHEMA)
        with tracer.span("sources.prepare_silver"):
            prepare_entity_silver(spark, tokens, orders)
        self.svc = PasarQueryService.from_lake(
            spark, tokens, orders,
            token_events=read("token_events", S.TOKEN_EVENTS_SCHEMA),
            order_events=read("order_events", S.ORDER_EVENTS_SCHEMA),
            collections=read("collections", S.COLLECTIONS_SCHEMA),
        )
        self.silver_bytes = _tree_bytes(os.path.join(self.run_dir, "warehouse"))

    def teardown(self, spark) -> None:
        for t in ("silver_tokens", "silver_orders"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def measure(self, spark, seconds: float, tracer) -> Outcome:
        from pasardassist_spark.caching import release_all

        sc = spark.sparkContext
        done: list[dict] = []
        stream = requests(self.seed, self.keys)
        t_start = time.perf_counter()
        # whole rounds, at least MIN_ROUNDS, so every window holds the same mix
        while (time.perf_counter() - t_start < seconds or len(done) % len(FAMILIES)
               or len(done) < MIN_ROUNDS * len(FAMILIES)):
            family, p = next(stream)
            rid = f"req{len(done)}"
            rec = {"family": family, "params": p, "group": rid}
            sc.setJobGroup(rid, f"api {family}")
            t0 = time.perf_counter()
            try:
                with tracer.span("api.request", op=rid) as req:
                    rec["span"] = req.id if req else None
                    with tracer.span("api.build"):
                        df = build_request(self.svc, family, p)
                    with tracer.span("api.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("api.exec") as ex:
                        rec["exec_span"] = ex.id if ex else None
                        rec["rows"] = df.collect()
                rec["ms"] = 1000 * (time.perf_counter() - t0)
                if tracer.enabled:
                    with tracer.overhead():
                        rec["exchanges"] = final_exchanges(df)
            except Exception as e:  # a failed request counts, the run goes on
                rec["error"] = repr(e)
            finally:
                sc._jsc.clearJobGroup()
            with tracer.span("caching.release", op=rid):
                rec["released"] = release_all(spark)
            done.append(rec)
        wall = time.perf_counter() - t_start
        self.last = done

        failed = 0
        oracle = api_oracles.Oracle(self.paths)
        for rec in done:
            if "error" in rec or not oracle.matches(rec["family"], rec["params"], rec["rows"]):
                failed += 1
        oracle.close()
        ok = [r["ms"] for r in done if "ms" in r]
        per_family = {}
        for f in FAMILIES:
            xs = [r["ms"] for r in done if r["family"] == f and "ms" in r]
            if xs:
                per_family[f] = median(xs)
        return Outcome(
            p50_ms=median(ok) if ok else float("nan"),
            ops_per_s=len(ok) / wall,
            wall_s=wall,
            latencies_ms=ok,
            attempted=len(done),
            failed=failed,
            report={"api_p50_ms": median(ok) if ok else None, "api_rps": len(ok) / wall,
                    "family_p50_ms": per_family,
                    "latencies_ms": [round(x) for x in ok]},
        )

    def layer_metrics(self, spark, tracer, outcome: Outcome) -> dict[str, float]:
        from perfbench.status import StatusReader

        recs = [r for r in self.last if "ms" in r]
        n = max(len(recs), 1)
        reader = StatusReader(spark)
        groups = {r["group"] for r in recs}
        counters = reader.counters(groups)
        jobs = reader.jobs(groups)
        by_span = {s.id: s for s in tracer.spans}

        def span_ms(name: str) -> float:
            return 1000 * sum(s.end - s.start for s in tracer.spans if s.name == name) / n

        gap_ms = 0.0
        for r in recs:
            ex, req = by_span[r["exec_span"]], by_span[r["span"]]
            js = job_intervals(jobs[r["group"]], req)
            for a, b in js:
                tracer.add("spark.job", a, b, ex.id, ex.op)
            gap_ms += 1000 * (req.end - req.start - union_length(js))
        out = {
            "api.build_ms": span_ms("api.build"),
            "api.plan_ms": span_ms("api.plan"),
            "api.exec_ms": span_ms("api.exec"),
            "api.jobs_per_req": sum(counters[g]["jobs"] for g in groups) / n,
            "api.stages_per_req": sum(counters[g]["stages"] for g in groups) / n,
            "api.tasks_per_req": sum(counters[g]["tasks"] for g in groups) / n,
            "api.exchanges_per_req": sum(r["exchanges"] for r in recs) / n,
            "api.driver_gap_ms": gap_ms / n,
            "api.rows_per_req": sum(len(r["rows"]) for r in recs) / n,
            "caching.release_ms": span_ms("caching.release"),
            "caching.released_rdds": sum(r["released"] for r in self.last) / max(len(self.last), 1),
            "sources.silver_mb": self.silver_bytes / 2**20,
        }
        for f in FAMILIES:
            xs = [by_span[r["exec_span"]] for r in recs if r["family"] == f]
            out[f"api.{f}.exec_ms"] = (
                1000 * median([s.end - s.start for s in xs]) if xs else 0.0
            )
        return out


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
