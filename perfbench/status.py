"""Spark's own counters for one job group, read from the in-process status
stores (works with ``spark.ui.enabled=false``).

The benchmark tags every call into a layer with ``setJobGroup`` before the
call; :meth:`StatusReader.counters` then sums, over the jobs of that
group:

- from ``AppStatusStore.jobsList``/``stageList``: jobs, stages, tasks,
  executor run and CPU time, GC time, shuffle read/write bytes, spill;
- from ``SQLAppStatusStore.executionMetrics``: the SQL metrics of every
  execution that ran one of those jobs — size of files read and the Python
  worker times and bytes.

SQL metric values come back formatted ("1.7 s", "total (min, med, max
...)\\n6.8 KiB (...)"), so :func:`parse_metric` reads the total back to a
number; a value formatted with one decimal loses what lies beyond it.
"""

from __future__ import annotations

import re
from collections import Counter

# SQL metric name (Spark 4.1) -> counter name
SQL_METRICS = {
    "size of files read": "scan_bytes",
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_bytes_sent",
}

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number in its base unit (bytes,
    milliseconds or a plain count)."""
    if text.startswith("total ("):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return num * _UNITS.get(unit, 1)


def final_exchanges(df) -> int:
    """Shuffle Exchanges in the final (post-AQE) plan of an executed
    DataFrame; broadcast and reused exchanges are not counted."""
    from pasardassist_spark.plans import plan

    final = plan(df, "simple").split("== Initial Plan ==")[0]
    return len(re.findall(r"(?<![A-Za-z])Exchange\b", final))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusReader:
    """Reads job-group counters from one SparkSession's status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def jobs(self, groups: set[str]) -> dict[str, list[dict]]:
        """group -> its jobs as {id, start, end, stages} (epoch seconds)."""
        out: dict[str, list[dict]] = {g: [] for g in groups}
        for job in _seq(self._store.jobsList(None)):
            opt = job.jobGroup()
            if not (opt.isDefined() and opt.get() in out):
                continue
            sub, done = job.submissionTime(), job.completionTime()
            out[opt.get()].append({
                "id": int(job.jobId()),
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000 if done.isDefined() else None,
                "stages": [int(s) for s in _seq(job.stageIds())],
            })
        return out

    def counters(self, groups: set[str]) -> dict[str, Counter]:
        """group -> Counter of the summed counters of its jobs."""
        jobs = self.jobs(groups)
        out = {g: Counter(jobs=len(js)) for g, js in jobs.items()}
        stage_group = {s: g for g, js in jobs.items() for j in js for s in j["stages"]}
        for st in _seq(self._store.stageList(None, False, False, self._no_quantiles, None)):
            g = stage_group.get(int(st.stageId()))
            if g is None or str(st.status()) == "SKIPPED":
                continue
            c = out[g]
            c["stages"] += 1
            c["tasks"] += int(st.numTasks())
            c["executor_run_ms"] += int(st.executorRunTime())
            c["executor_cpu_ns"] += int(st.executorCpuTime())
            c["gc_ms"] += int(st.jvmGcTime())
            c["shuffle_read_bytes"] += int(st.shuffleReadBytes())
            c["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
            c["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        job_group = {j["id"]: g for g, js in jobs.items() for j in js}
        for ex in _seq(self._sql.executionsList()):
            ex_jobs = [int(k) for k in _seq(ex.jobs().keys().toSeq())]
            hit = {job_group[j] for j in ex_jobs if j in job_group}
            if len(hit) != 1:
                continue
            c = out[hit.pop()]
            values = self._sql.executionMetrics(ex.executionId())
            for m in _seq(ex.metrics()):
                name = SQL_METRICS.get(m.name())
                if name is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    c[name] += parse_metric(v.get())
        return out
