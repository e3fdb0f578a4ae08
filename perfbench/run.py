"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload api_serving --seed 1 --seconds 10 --trace 0

Prints a readable report, then as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Exits non-zero when any output is wrong, and with code 2
when the package is not next to it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("api_serving", "batch_analytics")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def end_to_end(result: dict) -> dict[str, float]:
    out = result["outcome"]
    return {
        "setup_s": result["setup_s"],
        "peak_rss_mb": result["peak_rss_mb"],
        "p50_ms": out.p50_ms,
        "ops_per_s": out.ops_per_s,
    }


def result_line(spec: dict, result: dict, trace: bool) -> dict:
    """The final JSON object: every metric BENCHMARK.json lists for this
    mode, with its unit. An end-to-end metric the run did not produce, or
    any metric BENCHMARK.json does not list, is an error; a per-layer
    metric of a layer the workload does not call reads 0."""
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    values = dict(result.get("layers", {})) if trace else end_to_end(result)
    unknown = set(values) - {m["name"] for m in listed}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in listed:
        v = values.get(m["name"], 0.0 if trace else None)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    out = result["outcome"]
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }


def report(name: str, seed: int, result: dict) -> str:
    from perfbench.stats import tail

    out = result["outcome"]
    lines = [f"workload {name}  seed {seed}  cpus {os.environ.get('SPARK_GRAFT_CPUS')}"]
    lines.append(
        "setup_s {:.3f} (reps {})  jvm_launch_s {:.3f}  peak_rss_mb {:.1f} ({})".format(
            result["setup_s"], ", ".join(f"{t:.3f}" for t in result["setup_reps_s"]),
            result["jvm_launch_s"], result["peak_rss_mb"],
            ", ".join(f"{k} {v:.1f}" for k, v in result["rss_mb"].items())))
    t = tail(out.latencies_ms)
    tail_txt = f"p{t[0]:.0f} {t[1]:.1f} ms" if t else "no tail (<= 10 samples)"
    lines.append(
        f"p50_ms {out.p50_ms:.1f}  {tail_txt}  n {len(out.latencies_ms)}  "
        f"ops_per_s {out.ops_per_s:.3f}  failed_frac {out.failed}/{out.attempted}")
    for k, v in out.report.items():
        lines.append(f"  {k}: {v}")
    for k, v in sorted(result.get("layers", {}).items()):
        lines.append(f"  layer {k} = {v:.6g}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="traced run: write spans here as JSON lines "
                    "(default: standard error)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pasardassist_spark")):
        print(f"pasardassist_spark not found next to {os.path.dirname(__file__)}",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.dont_write_bytecode = True
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    spec = load_spec()
    from perfbench import harness
    from perfbench.api_serving import ApiServing
    from perfbench.batch_analytics import BatchAnalytics

    workload_class = {w.name: w for w in (ApiServing, BatchAnalytics)}[args.workload]

    run_dir = tempfile.mkdtemp(prefix=harness.RUN_DIR_PREFIX, dir=ROOT)
    cwd = os.getcwd()
    try:
        harness.pin_environment(run_dir)
        workload = workload_class(args.seed, run_dir)
        try:
            result = harness.run(workload, args.seconds, bool(args.trace))
        finally:
            harness.stop_jvm()
        line = result_line(spec, result, bool(args.trace))
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        from perfbench.trace import dump_spans

        if args.spans_out:
            with open(os.path.join(cwd, args.spans_out), "w") as fh:
                dump_spans(result["spans"], fh)
        else:
            dump_spans(result["spans"], sys.stderr)
    print(report(args.workload, args.seed, result), flush=True)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
