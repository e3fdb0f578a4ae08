"""Full-registry oracle sweep — the builder-side superset of the driver's
50-entry correctness window (VERDICT r15 task 5).

The per-round driver gate re-checks only DRIVER_WINDOW entries; everything
else rests on its archived green row plus pytest. This tool re-runs EVERY
registered query against its DuckDB oracle (tests/oracle_compare, the exact
driver-mirror check) at one or more scale factors and records a committed
artifact (SWEEP_r{N}.json), so each round carries a fresh 287/287 proof
instead of an r6-era one.

Usage:
    python tools/full_sweep.py SWEEP_r16.json [sf_dir ...] [--only NAME ...]
    # default sf_dirs: the sf0.01 and sf0.1 test tables (TESTDATA.md)

``--only`` re-checks just the named queries (an optimization's touched
set); a name that is not registered exits non-zero before any Spark work.

Rows-only entries (no oracle SQL) get the driver's weaker check: the query
runs and its row count and schema are recorded. Results stream to
<out>.jsonl as they finish, so a crashed sweep keeps its partial record
AND re-running RESUMES past already-recorded names; the final JSON
summarizes red names first.

The DUCKDB side gets a wall budget per (query, sf): a handful of oracle
SQLs are deliberately naive (the independence of the differential check
comes from their naivety — e.g. the set-similarity joins enumerate
candidate pairs the Spark side prefix-prunes), and at sf0.1 a naive plan
can run 100x the Spark side. Past the budget the oracle is interrupted
and the entry records ``oracle_timeout`` with the Spark row count — the
ENGINE's scale behavior is the sweep's subject, the oracle's isn't; the
hash gate for such names stands at sf0.01 (and in the driver record).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

ORACLE_BUDGET_S = 120.0
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", nargs="?", default="SWEEP.json")
    ap.add_argument("sf_dirs", nargs="*")
    ap.add_argument("--only", nargs="+", metavar="NAME")
    args = ap.parse_args()
    out = args.out

    sys.path.insert(0, REPO)
    import duckdb

    from pasardassist_spark import get_spark
    from pasardassist_spark.queries.registry import REGISTRY, _load_all
    from pasardassist_spark.tables import DEFAULT_SF_DIR, TABLES
    from tests import oracle_compare as oc

    testdata = os.path.dirname(os.path.normpath(DEFAULT_SF_DIR))
    sf_dirs = args.sf_dirs or [
        os.path.join(testdata, "sf0.01"), os.path.join(testdata, "sf0.1")
    ]
    _load_all()
    names = sorted(args.only or REGISTRY)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"not registered queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="full-sweep")
    results: dict[str, dict] = {}
    if os.path.exists(out + ".jsonl"):  # resume past recorded GREEN names
        with open(out + ".jsonl") as f:
            for line in f:
                rec = json.loads(line)
                nm = rec.pop("name")
                if nm not in names:
                    continue
                # only green rows are resumable: a query fixed after a red
                # sweep must RE-RUN, not carry its stale red into the
                # regenerated artifact (r17 review)
                # LAST line per name wins (a rerun appends a fresh row):
                # a red latest row evicts any earlier green one
                if all(
                    v.get("ok")
                    for v in rec.values()
                    if isinstance(v, dict)
                ):
                    results[nm] = rec
                else:
                    results.pop(nm, None)
    jsonl = open(out + ".jsonl", "a")

    def run_oracle_budgeted(sql: str, sf_dir: str):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        timer = threading.Timer(ORACLE_BUDGET_S, con.interrupt)
        timer.start()
        try:
            return con.execute(sql).df()
        finally:
            timer.cancel()

    # patch the compare helper's oracle runner with the budgeted one
    oc.run_oracle = run_oracle_budgeted

    t_start = time.time()
    for i, name in enumerate(names, 1):
        if name in results:
            continue
        spec = REGISTRY[name]
        row: dict = {"oracle": bool(spec.oracle)}
        for sf_dir in sf_dirs:
            sf = sf_dir.rstrip("/").rsplit("/", 1)[-1]
            t0 = time.time()
            try:
                df = spec.fn(spark, sf_dir)
                if spec.oracle:
                    oc.assert_matches_oracle(df, spec.oracle, sf_dir, name=name)
                    row[sf] = {"ok": True, "mode": "hash"}
                else:
                    n = df.count()
                    row[sf] = {"ok": True, "mode": "rows_only", "rows": n}
            except duckdb.InterruptException:
                row[sf] = {
                    "ok": True,
                    "mode": "oracle_timeout",
                    "rows": spec.fn(spark, sf_dir).count(),
                }
            except Exception as ex:  # noqa: BLE001 - recorded, not raised
                if "INTERRUPT" in str(ex).upper():
                    row[sf] = {
                        "ok": True,
                        "mode": "oracle_timeout",
                        "rows": spec.fn(spark, sf_dir).count(),
                    }
                else:
                    row[sf] = {
                        "ok": False,
                        "err": f"{type(ex).__name__}: {ex}"[:500],
                        "trace": traceback.format_exc()[-1500:],
                    }
            row[sf]["sec"] = round(time.time() - t0, 2)
        # several queries persist() intermediates that outlive their
        # terminal action (the returned plan references them, so the
        # operator can't unpersist eagerly); one long session running all
        # ~300 queries would accumulate those blocks for its lifetime —
        # drop them between entries (queries are independent; r17 review).
        # r19: release_all also drops localCheckpoint block RDDs, which
        # clearCache leaves pinned, and removes the scratch directories
        # the entry wrote (pasardassist_spark/caching.py).
        from pasardassist_spark.caching import release_all

        release_all(spark)
        results[name] = row
        jsonl.write(json.dumps({"name": name, **row}) + "\n")
        jsonl.flush()
        status = "ok" if all(
            v.get("ok") for k, v in row.items() if isinstance(v, dict)
        ) else "RED"
        print(f"[{i}/{len(names)}] {name}: {status}", flush=True)
    jsonl.close()

    red = sorted(
        n for n, row in results.items()
        if not all(v.get("ok") for k, v in row.items() if isinstance(v, dict))
    )
    timeouts = sorted(
        n for n, row in results.items()
        if any(
            isinstance(v, dict) and v.get("mode") == "oracle_timeout"
            for v in row.values()
        )
    )
    n_oracle = sum(1 for r in results.values() if r["oracle"])
    summary = {
        "sf_dirs": sf_dirs,
        "total": len(results),
        "oracle_backed": n_oracle,
        "rows_only": len(results) - n_oracle,
        "red": red,
        "oracle_timeouts": timeouts,
        "oracle_budget_s": ORACLE_BUDGET_S,
        "green": len(results) - len(red),
        "wall_sec": round(time.time() - t_start, 1),
        "results": results,
    }
    with open(out, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(
        f"\nSWEEP: {summary['green']}/{summary['total']} green "
        f"({n_oracle} oracle-backed), {len(red)} red -> {out}"
    )
    if red:
        print("RED:", red)
    return 1 if red else 0


if __name__ == "__main__":
    raise SystemExit(main())
