"""Process-level plumbing shared by the workloads: the pinned, hermetic
environment, the Spark session lifecycle, memory readings and the run
loop that turns one workload into the result line.

Everything a run writes (warehouse, checkpoints, state, staged files,
Spark scratch space, temp files, spans) lives under one fresh directory
inside the checkout, which is deleted when the run ends.
"""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

from perfbench.stats import median

# The driver heap. Under the program's default (16g) the JVM's high-water
# mark follows when G1 chose to grow its heap: 4.0 to 6.5 GiB over five
# seeds. After a mixed collection under a 512 MiB heap at most 200 MiB
# stays live on either workload, so a 1 GiB cap sits five times above the
# live set; peak_rss_mb is measured under this cap.
DRIVER_MEM = "1g"
RUN_DIR_PREFIX = ".perfbench-run-"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: str) -> None:
    """Pin the core count and point every writer at ``run_dir``. Must run
    before the JVM starts: spark-submit reads these once."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PROFILE": "local",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    })
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)


def start_session():
    from pasardassist_spark import get_spark

    return get_spark("perfbench")


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """Stop the active session, then the JVM the gateway launched, and wait
    for it (its Python workers are its children and go with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def peak_rss_mb(pid: int) -> float:
    """The VmHWM high-water mark of ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


@dataclass
class Outcome:
    """What one measurement window produced."""

    p50_ms: float  # median operation latency
    ops_per_s: float  # operations completed per second
    wall_s: float  # length of the window
    latencies_ms: list[float]  # every operation, for the tail rule
    attempted: int
    failed: int
    report: dict = field(default_factory=dict)  # workload-named readings


class Workload:
    """One traffic mix. Subclasses implement set-up, measurement and the
    output check; the harness owns sessions, timing of set-up and tracing."""

    name = ""
    setup_reps = 3  # set-ups per run; setup_s is their median

    def __init__(self, seed: int, run_dir: str) -> None:
        self.seed = seed
        self.run_dir = run_dir

    def generate(self) -> None:
        """Write the seeded inputs. Runs once, before the set-ups: input
        generation is the benchmark's work, not the program's."""

    def setup(self, spark, rep: int, tracer) -> None:
        raise NotImplementedError

    def teardown(self, spark) -> None:
        """Undo one set-up so the next starts from nothing."""

    def measure(self, spark, seconds: float, tracer) -> Outcome:
        raise NotImplementedError

    def layer_metrics(self, spark, tracer, outcome: Outcome) -> dict[str, float]:
        """Per-layer readings from a traced window."""
        return {}


def run(workload: Workload, seconds: float, trace: bool) -> dict:
    """Generate the inputs, set up ``workload.setup_reps`` times (the last
    set-up is kept) and measure one window; a traced run adds the per-layer
    readings."""
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    workload.generate()
    generate_s = time.perf_counter() - t0
    setup_tracer = Tracer(trace)
    setup_times = []
    jvm_launch_s = None
    for rep in range(workload.setup_reps):
        t0 = time.perf_counter()
        with setup_tracer.span("session.start", op=f"setup{rep}"):
            spark = start_session()
        if rep == 0:
            jvm_launch_s = time.perf_counter() - t0
        workload.setup(spark, rep, setup_tracer)
        setup_times.append(time.perf_counter() - t0)
        if rep < workload.setup_reps - 1:
            workload.teardown(spark)
            spark.stop()
    # A traced run times its window traced, so its per-layer numbers
    # describe the same window an untraced run reports. The tracing
    # overhead is the time the window spent on tracing work.
    tracer = Tracer(trace, ids=setup_tracer.ids)
    outcome = workload.measure(spark, seconds, tracer)
    result = {
        "setup_s": median(setup_times),
        "setup_reps_s": setup_times,
        "jvm_launch_s": jvm_launch_s,
        "outcome": outcome,
    }
    if trace:
        layers = workload.layer_metrics(spark, tracer, outcome)
        layers.update(_setup_layers(setup_tracer, jvm_launch_s))
        layers["inputs.generate_s"] = generate_s
        for layer, self_s in tracer.self_times().items():
            layers[f"{layer}.self_s"] = self_s
        layers["trace.overhead_pct"] = 100.0 * tracer.cost_s / outcome.wall_s
        result["layers"] = layers
        result["spans"] = setup_tracer.spans + tracer.spans
    result["rss_mb"] = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(jvm_pid())}
    result["peak_rss_mb"] = sum(result["rss_mb"].values())
    return result


def _setup_layers(setup_tracer, jvm_launch_s: float | None) -> dict[str, float]:
    """Medians over the set-up repetitions of each set-up span name."""
    by_name: dict[str, list[float]] = {}
    for s in setup_tracer.spans:
        by_name.setdefault(s.name, []).append(s.end - s.start)
    out = {f"{n}_s": median(v) for n, v in by_name.items()}
    out["session.jvm_launch_s"] = jvm_launch_s or 0.0
    return out
