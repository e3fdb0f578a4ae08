"""Workload ``batch_analytics``: passes of a fixed scheduled job in a
session whose set-up is done. The first pass runs cold, as a job run by a
fresh ``spark-submit`` pays it: plan, codegen, JIT warm-up and Python
worker start stay inside the timing. Any later pass runs the same job
again in the same session, as a scheduler that keeps its session does;
plan and codegen are paid again on every pass. An operation is one pass.

The job's entries, in a fixed order (a cold pass makes each entry's time
depend on what ran before it, so a seeded order would move the median
with the seed):

- ``a11_collection_stats`` (``queries``), the largest headline query: two
  scans, a fact-fact join and its aggregates;
- the IVF-PQ ANN build and search (``operators.similarity``, whose
  list assignment and encoding are pandas UDFs), with
  recall@10 against the exact cosine top-k (``sim_cosine_topk``'s
  answer, computed in NumPy);
- a streaming backfill: a staged backlog of event files drained with
  ``maxFilesPerTrigger=1`` through ``streaming.read_event_stream`` and
  ``maintain_latest_state(backend="generations")``, the write path.

Few heavy plans: scan, shuffle, Python workers and state writes dominate, and per-request fixed cost is a small share.

Checks: every registry query against its DuckDB oracle
(``tests/oracle_compare.py``), ANN recall@10 against a floor, and the
streamed state against a batch latest-per-key of all replayed events.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np

from perfbench import gen
from perfbench.harness import Outcome, Workload
from perfbench.stats import median

# Table scale (TESTDATA.md sf): lineitem 12k rows, orders 3k, 200 documents
# and embeddings. Per-query fixed cost dominates at this size as at sf0.1.
SF = 0.002
QUERIES = ("a11_collection_stats",)
ANN = "ann_ivfpq"
INGEST = "stream_backfill"
ENTRIES = QUERIES + (ANN, INGEST)
SPAN_NAMES = {ANN: "operators.ann", INGEST: "streaming.ingest"}

# Recall@10 of the IVF-PQ index against the exact top-k. Over seeds 1-40 on
# 4 cores the lowest recall at this commit was 0.96, and every seed repeated
# it exactly on a second build of the index; the floor leaves a margin of
# one missed neighbour in 50 below that.
ANN_RECALL_FLOOR = 0.94

# A window is the job as one scheduled run pays it: a cold pass right
# after set-up. A warm pass takes about half as long, so windows that mix
# cold and warm passes would have a median that swings from run to run.
MIN_PASSES = 1

# streaming backlog: files x events, keys spread over every state bucket
INGEST_FILES = 2
INGEST_EVENTS = 6_000
INGEST_KEYS = 1_500


class BatchAnalytics(Workload):
    name = "batch_analytics"
    # A set-up takes under a second once the JVM runs, so its median needs
    # more of them to hold still.
    setup_reps = 5

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.run_dir, "tables")
        gen.tpch_tables(self.seed, self.sf_dir, SF)
        self.event_paths = gen.event_files(
            self.seed, os.path.join(self.run_dir, "events"),
            INGEST_EVENTS, INGEST_KEYS, INGEST_FILES)

    def setup(self, spark, rep: int, tracer) -> None:
        from pasardassist_spark.tables import load

        # ships the package to the workers and scans the largest table
        with tracer.span("tables.first_load"):
            load(spark, self.sf_dir, "lineitem").count()

    def measure(self, spark, seconds: float, tracer) -> Outcome:
        from pasardassist_spark.caching import release_all

        sc = spark.sparkContext
        done: list[dict] = []
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < seconds
               or len(done) < MIN_PASSES * len(ENTRIES)):
            for entry in ENTRIES:
                rec = {"entry": entry, "group": f"{entry}#{len(done)}"}
                sc.setJobGroup(rec["group"], entry)
                t0 = time.perf_counter()
                try:
                    with tracer.span(SPAN_NAMES.get(entry, "queries.query"), op=rec["group"]) as sp:
                        rec["span"] = sp.id if sp else None
                        rec.update(self._run_entry(spark, entry, tracer))
                    rec["ms"] = 1000 * (time.perf_counter() - t0)
                except Exception as e:  # a failed entry counts, the pass goes on
                    rec["error"] = repr(e)
                finally:
                    sc._jsc.clearJobGroup()
                with tracer.span("caching.release", op=rec["group"]):
                    rec["released"] = release_all(spark)
                done.append(rec)
        wall = time.perf_counter() - t_start
        self.last = done
        _, notes = self._check(done)
        # an operation is a pass: it fails when any of its entries does
        failed = len({i // len(ENTRIES) for i in notes["failed_at"]})
        # a pass counts when all its entries completed
        pass_ms = [sum(r["ms"] for r in done[i:i + len(ENTRIES)])
                   for i in range(0, len(done), len(ENTRIES))
                   if all("ms" in r for r in done[i:i + len(ENTRIES)])]
        ingest = [r for r in done if r["entry"] == INGEST and "ms" in r]
        return Outcome(
            p50_ms=median(pass_ms) if pass_ms else float("nan"),
            ops_per_s=len(pass_ms) / wall,
            wall_s=wall,
            latencies_ms=pass_ms,
            attempted=len(done) // len(ENTRIES),
            failed=failed,
            report={
                "batch_s": median(pass_ms) / 1000 if pass_ms else None,
                "pass_ms": [round(x) for x in pass_ms],
                "ann_recall10": notes.get("recall"),
                "backfill_eps": (
                    INGEST_EVENTS / (median([r["ms"] for r in ingest]) / 1000) if ingest else None
                ),
                "entry_ms": [(r["entry"], round(r["ms"])) for r in done if "ms" in r],
                "failures": notes.get("failures", []),
            },
        )

    # -- entries ---------------------------------------------------------------

    def _run_entry(self, spark, entry: str, tracer) -> dict:
        if entry == ANN:
            return self._ann(spark, tracer)
        if entry == INGEST:
            return self._ingest(spark, tracer)
        from pasardassist_spark.queries import all_queries

        with tracer.span("queries.build"):
            df = all_queries()[entry](spark, self.sf_dir)
        with tracer.span("queries.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("queries.exec"):
            pdf = df.toPandas()
        out = {"result": pdf}
        if tracer.enabled:
            from perfbench.status import final_exchanges

            with tracer.overhead():
                out["exchanges"] = final_exchanges(df)
        return out

    def _ann(self, spark, tracer) -> dict:
        from pasardassist_spark.operators import similarity as S
        from pasardassist_spark.queries.similarity import DIM, K, QUERY_IDS
        from pasardassist_spark.tables import load

        emb = load(spark, self.sf_dir, "embeddings")
        with tracer.span("operators.ann_build"):
            asg, cent = S.ivf_assignments(emb)
            asg = asg.persist()
            asg.count()
            train = S.pq_training_matrix(emb)
            rot = S.opq_rotation(emb, DIM, sample_X=train)
            books = S.pq_codebooks(emb, DIM, rotation=rot, sample_X=train)
            codes = S.pq_encode(emb, books, rotation=rot).persist()
            codes.count()
        with tracer.span("operators.ann_search"):
            got = S.ivfpq_topk(
                emb, QUERY_IDS, K, DIM, books=books, assignments=asg,
                centroids=cent, codes=codes, rotation=rot,
            ).collect()
        return {"ann": {(r.q_id, r.neighbor_id) for r in got}}

    def _ingest(self, spark, tracer) -> dict:
        """Drain the staged backlog, one file per trigger, into a fresh
        state store."""
        import shutil

        from pasardassist_spark.streaming.ingest import (
            maintain_latest_state,
            read_event_stream,
        )

        base = os.path.join(self.run_dir, f"stream-{time.monotonic_ns()}")
        src = os.path.join(base, "src")
        os.makedirs(src)
        for p in self.event_paths:
            shutil.copy(p, src)
        state, ckpt = os.path.join(base, "state"), os.path.join(base, "ckpt")
        gens: list[dict] = []
        with tracer.span("streaming.backfill"):
            q = maintain_latest_state(
                read_event_stream(spark, src, max_files_per_trigger=1), state, ckpt,
                backend="generations")
            try:
                if tracer.enabled:
                    _watch_generations(q, state, len(self.event_paths), gens, tracer)
                else:
                    q.processAllAvailable()
            finally:
                q.stop()
        # the stream's jobs run under its own job group, the run id
        return {"progress": list(q.recentProgress), "state_dir": state,
                "generations": gens, "run_id": str(q.runId)}

    # -- checks ----------------------------------------------------------------

    def _check(self, done: list[dict]) -> tuple[int, dict]:
        """(number of wrong records, notes): the notes name each failure,
        the index of each wrong record and the lowest ANN recall."""
        from pasardassist_spark.queries import all_oracles

        _canon, run_oracle = _oracle_compare()
        oracles = all_oracles()
        notes: dict = {"failures": [], "failed_at": []}
        for i, r in enumerate(done):
            entry = r["entry"]
            if "error" in r:
                problem = r["error"]
            elif entry in QUERIES:
                want = run_oracle(oracles[entry], self.sf_dir)
                got = r["result"]
                same = sorted(got.columns) == sorted(want.columns) and _canon(got) == _canon(want)
                problem = None if same else "differs from its DuckDB oracle"
            elif entry == ANN:
                truth = exact_topk(os.path.join(self.sf_dir, "embeddings.parquet"))
                recall = len(truth & r["ann"]) / len(truth)
                notes["recall"] = min(recall, notes.get("recall", recall))
                problem = (f"recall@10 {recall:.3f} < {ANN_RECALL_FLOOR}"
                           if recall < ANN_RECALL_FLOOR else None)
            else:
                same = _state_matches(self.event_paths, r["state_dir"])
                problem = None if same else "state differs from batch latest-per-key"
            if problem:
                notes["failures"].append(f"{entry}: {problem}")
                notes["failed_at"].append(i)
        return len(notes["failed_at"]), notes

    def layer_metrics(self, spark, tracer, outcome: Outcome) -> dict[str, float]:
        from perfbench.status import StatusReader
        from perfbench.trace import job_intervals, union_length

        recs = [r for r in self.last if "ms" in r]
        reader = StatusReader(spark)
        groups = {r["group"] for r in recs}
        counters = reader.counters(groups)
        jobs = reader.jobs(groups)
        by_span = {s.id: s for s in tracer.spans}
        q_recs = [r for r in recs if r["entry"] in QUERIES]
        qc = sum((counters[r["group"]] for r in q_recs), start=Counter())
        ac = sum((counters[r["group"]] for r in recs if r["entry"] == ANN), start=Counter())

        # every sum below is per pass
        passes = max(len(self.last) // len(ENTRIES), 1)
        qc = Counter({k: v / passes for k, v in qc.items()})
        ac = Counter({k: v / passes for k, v in ac.items()})

        def span_s(name: str) -> float:
            return sum(s.end - s.start for s in tracer.spans if s.name == name) / passes

        gap = 0.0
        for r in recs:
            sp = by_span[r["span"]]
            js = job_intervals(jobs[r["group"]], sp)
            for a, b in js:
                tracer.add("spark.job", a, b, sp.id, sp.op)
            if r["entry"] in QUERIES:
                gap += sp.end - sp.start - union_length(js)
        out = {
            "queries.plan_s": span_s("queries.plan"),
            "queries.exec_s": span_s("queries.exec"),
            "queries.jobs": qc["jobs"],
            "queries.stages": qc["stages"],
            "queries.tasks": qc["tasks"],
            "queries.exchanges": sum(r.get("exchanges", 0) for r in q_recs) / passes,
            "queries.scan_mb": qc["scan_bytes"] / 2**20,
            "queries.shuffle_write_mb": qc["shuffle_write_bytes"] / 2**20,
            "queries.shuffle_read_mb": qc["shuffle_read_bytes"] / 2**20,
            "queries.spill_mb": qc["spill_bytes"] / 2**20,
            "queries.executor_run_s": qc["executor_run_ms"] / 1000,
            "queries.executor_cpu_s": qc["executor_cpu_ns"] / 1e9,
            "queries.gc_s": qc["gc_ms"] / 1000,
            "queries.python_total_s": qc["python_total_ms"] / 1000,
            "queries.python_boot_s": qc["python_boot_ms"] / 1000,
            "queries.python_mb_sent": qc["python_bytes_sent"] / 2**20,
            "queries.driver_gap_s": gap / passes,
            "operators.ann_build_s": span_s("operators.ann_build"),
            "operators.ann_search_s": span_s("operators.ann_search"),
            "operators.ann_recall10": outcome.report.get("ann_recall10") or 0.0,
            # the job's Python workers run in the ANN's pandas UDFs
            "operators.python_total_s": ac["python_total_ms"] / 1000,
            "operators.python_boot_s": ac["python_boot_ms"] / 1000,
            "operators.python_mb_sent": ac["python_bytes_sent"] / 2**20,
            "caching.release_ms": 1000 * span_s("caching.release") / max(len(self.last), 1),
            "caching.released_rdds": sum(r["released"] for r in self.last) / max(len(self.last), 1),
        }
        for name in QUERIES:
            xs = [by_span[r["span"]] for r in q_recs if r["entry"] == name]
            out[f"queries.{name}.exec_s"] = median([s.end - s.start for s in xs]) if xs else 0.0
        ingest = [r for r in recs if r["entry"] == INGEST]
        if ingest:
            stream_counters = reader.counters({r["run_id"] for r in ingest})
            out.update(_streaming_metrics(ingest, stream_counters, self.event_paths, tracer, by_span))
        return out


def _watch_generations(q, state_dir: str, n_files: int, gens: list[dict], tracer) -> None:
    """Wait for the backlog like processAllAvailable, scanning each newly
    committed generation while it is the newest: a file with one link was
    written by that epoch, a file with more was hard-linked from the one
    before."""
    from pasardassist_spark.streaming.generations import committed_versions

    seen: set[str] = set()
    deadline = time.monotonic() + 120
    while True:
        with tracer.overhead():
            for v in committed_versions(state_dir):
                if v not in seen:
                    seen.add(v)
                    gens.append(_scan_generation(os.path.join(state_dir, v)))
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= n_files:
            break
        if time.monotonic() > deadline:
            raise TimeoutError(f"backlog of {n_files} files not drained in 120 s")
        time.sleep(0.02)
    for v in committed_versions(state_dir):
        if v not in seen:
            gens.append(_scan_generation(os.path.join(state_dir, v)))


def _scan_generation(gen_dir: str) -> dict:
    written = linked = 0
    touched, buckets = set(), set()
    for dirpath, _, files in os.walk(gen_dir):
        b = os.path.basename(dirpath)
        if b.startswith("bucket="):
            buckets.add(b)
        for f in files:
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(dirpath, f))
            if st.st_nlink == 1:
                written += st.st_size
                touched.add(b)
            else:
                linked += st.st_size
    return {"written": written, "linked": linked, "touched": len(touched),
            "buckets": max(len(buckets), 1)}


def _streaming_metrics(ingest, counters, event_paths, tracer, by_span) -> dict[str, float]:
    """Per-epoch readings from ``query.recentProgress`` and the state
    store, and epoch spans rebuilt from each progress timestamp and its
    ``durationMs`` breakdown."""
    import datetime as dt

    progress = [p for r in ingest for p in r["progress"] if p["numInputRows"] > 0]
    gens = [g for r in ingest for g in r["generations"]]
    # each backfill starts an empty store, so its first generation writes all
    later_gens = [g for r in ingest for g in r["generations"][1:]]
    n = max(len(progress), 1)

    def p50(key: str) -> float:
        xs = [p["durationMs"].get(key, 0) for p in progress]
        return float(median(xs)) if xs else 0.0

    for r in ingest:
        parent = by_span[r["span"]]
        for p in r["progress"]:
            start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            d = p["durationMs"]
            ep = tracer.add("streaming.epoch", start, start + d.get("triggerExecution", 0) / 1000,
                            parent.id, parent.op)
            t = start
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                          "addBatch", "commitOffsets"):
                ms = d.get(phase, 0)
                tracer.add(f"streaming.{phase}", t, t + ms / 1000, ep.id, ep.op)
                t += ms / 1000
    input_bytes = sum(os.path.getsize(p) for p in event_paths) * len(ingest)
    written = sum(g["written"] for g in gens)
    c = sum((counters[r["run_id"]] for r in ingest), start=Counter())
    return {
        "streaming.epochs": len(progress) / len(ingest),
        "streaming.rows_per_epoch": sum(p["numInputRows"] for p in progress) / n,
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.jobs_per_epoch": c["jobs"] / n,
        "streaming.shuffle_mb_per_epoch": c["shuffle_write_bytes"] / 2**20 / n,
        "streaming.state_written_mb": written / 2**20 / len(ingest),
        "streaming.state_linked_mb": sum(g["linked"] for g in gens) / 2**20 / len(ingest),
        "streaming.write_amp": written / max(input_bytes, 1),
        "streaming.touched_bucket_frac": (
            median([g["touched"] / g["buckets"] for g in later_gens]) if later_gens else 1.0),
        "streaming.state_final_mb": (
            (gens[-1]["written"] + gens[-1]["linked"]) / 2**20 if gens else 0.0),
        "streaming.backfill_eps": INGEST_EVENTS / median([r["ms"] / 1000 for r in ingest]),
    }


def _oracle_compare():
    """The repository's own DuckDB comparison (tests/oracle_compare.py):
    its row canonicaliser and oracle runner."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tests", "oracle_compare.py")
    spec = importlib.util.spec_from_file_location("oracle_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon, mod.run_oracle


def exact_topk(path: str) -> set[tuple[int, int]]:
    """(query id, neighbour id) pairs of the exact cosine top-k of
    ``queries.similarity.QUERY_IDS``, self excluded."""
    import pyarrow.parquet as pq

    from pasardassist_spark.queries.similarity import K, QUERY_IDS

    t = pq.read_table(path).to_pandas()
    ids = t["vec_id"].to_numpy()
    x = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out = set()
    for q in QUERY_IDS:
        sims = x @ x[ids == q][0]
        sims[ids == q] = -np.inf
        out.update((q, int(ids[i])) for i in np.argsort(-sims, kind="stable")[:K])
    return out


def _state_matches(event_paths: list[str], state_dir: str) -> bool:
    """The streamed state equals batch latest-per-key (by ts, event_id)
    over every replayed event."""
    import pandas as pd
    import pyarrow.parquet as pq

    from pasardassist_spark.streaming.generations import committed_versions

    events = pd.concat([pq.read_table(p).to_pandas() for p in event_paths])
    want = (events.sort_values(["user_id", "ts", "event_id"])
            .groupby("user_id").tail(1).set_index("user_id").sort_index())
    versions = committed_versions(state_dir)
    if not versions:
        return False
    got = pq.read_table(os.path.join(state_dir, versions[-1])).to_pandas()
    got = got.drop(columns=[c for c in got.columns if c == "bucket"])
    got = got.set_index("user_id").sort_index()
    if list(got.index) != list(want.index):
        return False
    for col in ("event_id", "event_type", "value", "props"):
        if not (got[col].astype(str).values == want[col].astype(str).values).all():
            return False

    def micros(ts):
        return pd.to_datetime(ts, utc=True).dt.tz_localize(None).astype("datetime64[us]")

    return (micros(got["ts"]).values == micros(want["ts"]).values).all()
