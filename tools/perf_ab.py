"""Interleaved perfbench A/B between two checkouts.

    python tools/perf_ab.py OLD_DIR NEW_DIR --workload W --pairs N [--seed S]

Runs ``perfbench/run.py --trace 0`` from each checkout once per pair, at
the checkout's ``BENCHMARK.json`` ``run_seconds``. Pair i uses seed
``S + i`` on both sides, and the side that runs first alternates: OLD
first in pairs 0, 2, 4, ..., NEW first in the others, so a drift in the
host's state lands on both sides alike. Run nothing else on the host
meanwhile: a concurrent Spark session makes the numbers meaningless.

For each end-to-end metric of ``BENCHMARK.json`` it prints each side's
median and quartiles, the change of NEW's median against OLD's, and the
number of pairs NEW won (better in the metric's direction; a tie counts
for neither side). It exits 1 when any run exited non-zero, reported
``correct: false`` or reported ``failed > 0``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from typing import Callable

Runner = Callable[[str, int], tuple[int, dict | None]]


def run_order(pairs: int, seed: int) -> list[tuple[int, str, int]]:
    """(pair, side, seed) in the order the runs happen."""
    order = []
    for i in range(pairs):
        sides = ("old", "new") if i % 2 == 0 else ("new", "old")
        order.extend((i, side, seed + i) for side in sides)
    return order


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; one sample is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_pairs(runner: Runner, pairs: int, seed: int) -> list[dict]:
    """Every run, in order: pair, side, seed, exit code and the run's
    JSON result line (None when it printed none)."""
    runs = []
    for pair, side, s in run_order(pairs, seed):
        code, line = runner(side, s)
        runs.append({"pair": pair, "side": side, "seed": s, "code": code, "line": line})
    return runs


def bad_runs(runs: list[dict]) -> list[dict]:
    """Runs that exited non-zero, printed no result, or report wrong or
    failed operations."""
    return [
        r for r in runs
        if r["code"] != 0 or r["line"] is None
        or not r["line"].get("correct") or r["line"].get("failed", 0) > 0
    ]


def summarize(runs: list[dict], metrics: list[dict]) -> list[dict]:
    """Per end-to-end metric (``{"name", "better"}`` as in BENCHMARK.json):
    each side's quartiles, NEW's median change in percent of OLD's, and
    pairs won by NEW. Pairs where either side has no value are left out."""
    by_pair: dict[int, dict[str, dict]] = {}
    for r in runs:
        if r["line"] is not None:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r["line"]["metrics"]
    both = [p for p in sorted(by_pair) if {"old", "new"} <= set(by_pair[p])]
    if not both:
        return []
    out = []
    for m in metrics:
        name, sign = m["name"], (1 if m["better"] == "higher" else -1)
        old = [by_pair[p]["old"][name]["value"] for p in both]
        new = [by_pair[p]["new"][name]["value"] for p in both]
        oq, nq = quartiles(old), quartiles(new)
        won = sum(1 for a, b in zip(old, new) if sign * (b - a) > 0)
        out.append({
            "metric": name,
            "old": oq,
            "new": nq,
            "delta_pct": 100.0 * (nq[1] - oq[1]) / oq[1] if oq[1] else float("nan"),
            "won": won,
            "pairs": len(both),
        })
    return out


def format_table(workload: str, rows: list[dict]) -> str:
    lines = [f"{workload}: metric | old median [q1, q3] | new median [q1, q3] "
             "| change in median | pairs new won"]
    for r in rows:
        (o1, o2, o3), (n1, n2, n3) = r["old"], r["new"]
        lines.append(
            f"  {r['metric']} | {o2:.4g} [{o1:.4g}, {o3:.4g}] | {n2:.4g} [{n1:.4g}, {n3:.4g}]"
            f" | {r['delta_pct']:+.1f}% | {r['won']}/{r['pairs']}")
    return "\n".join(lines)


def subprocess_runner(dirs: dict[str, str], workload: str, seconds: float) -> Runner:
    """Runs ``perfbench/run.py`` in the checkout of each side; its last
    stdout line is the result JSON."""

    def run(side: str, seed: int) -> tuple[int, dict | None]:
        d = dirs[side]
        proc = subprocess.run(
            [sys.executable, os.path.join(d, "perfbench", "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        try:
            line = json.loads(lines[-1]) if lines else None
        except json.JSONDecodeError:
            line = None
        if proc.returncode != 0 or line is None:
            sys.stderr.write(proc.stderr[-4000:])
        return proc.returncode, line

    return run


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("old_dir")
    ap.add_argument("new_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of pair 0 (default 1)")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")

    dirs = {"old": os.path.abspath(args.old_dir), "new": os.path.abspath(args.new_dir)}
    with open(os.path.join(dirs["new"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runner = subprocess_runner(dirs, args.workload, spec["run_seconds"])

    def logged(side: str, seed: int):
        code, line = runner(side, seed)
        vals = {k: v["value"] for k, v in (line or {}).get("metrics", {}).items()}
        print(json.dumps({"side": side, "seed": seed, "code": code, "metrics": vals,
                          "failed": (line or {}).get("failed")}), flush=True)
        return code, line

    runs = run_pairs(logged, args.pairs, args.seed)
    print(format_table(args.workload, summarize(runs, spec["end_to_end"])), flush=True)
    bad = bad_runs(runs)
    for r in bad:
        print(f"bad run: {r['side']} seed {r['seed']} exit {r['code']}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
