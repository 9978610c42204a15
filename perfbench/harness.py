"""Shared pieces of the benchmark worker: the pinned Spark session, in-memory
spans, and per-layer attribution read from Spark's AppStatusStore.

Attribution uses only three sources: the job groups the benchmark sets
around its own calls, job call sites / SQL execution plans, and the status
store itself (which is populated with the UI disabled). Nothing is added to
the engine.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

MB = float(1 << 20)
CLK_TCK = os.sysconf("SC_CLK_TCK")
# value of a per-layer metric whose layer the workload never calls: a
# negative count or time cannot be measured, so it is not mistaken for 0
NOT_EXERCISED = -1


def median(xs):
    return statistics.median(xs) if xs else 0.0


def session_cpu_s() -> float:
    """CPU seconds (user + system) of every live process of this process's
    session (driver, JVM, Python workers), plus those of the children each
    has reaped. Time the hypervisor steals from the VM is not in it."""
    sid = os.getsid(0)
    ticks = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # fields after "(comm)": state ppid pgrp session ... utime
                # stime cutime cstime at 11..14
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def start_spark():
    """The engine's own session factory, with the benchmark's pinned
    settings (set in the environment by run.py) and three extras: no console
    progress bar, a fixed heap, and status-store retention large enough that
    no job of a run is evicted before attribution reads it."""
    from warcbase_spark.session import get_spark

    work = os.environ["PERFBENCH_WORK"]
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


class Bench:
    """One run: its arguments, its session, and the spans it records.

    A span is (name, parent, start, end, attrs) in wall-clock seconds; spans
    stay in memory and are dumped once at the end of a traced run. In a
    traced run each span also tags the Spark jobs it launches with its name
    as the job group, so the status store can attribute them."""

    def __init__(self, spark, seed: int, seconds: int, trace: bool, scale: str, t0: float):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.t0 = t0
        self.session_s = time.time() - t0
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        """``cpu``: also record the session's CPU seconds over the span (a
        /proc scan at each end, so only for whole measured units)."""
        cpu0 = session_cpu_s() if cpu else None
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self._stack.append(name)
        sc = self.spark.sparkContext
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", name)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.time()
            if cpu:
                rec["cpu_s"] = session_cpu_s() - cpu0
            self._stack.pop()
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def more(self, name: str, done: int, minimum: int) -> bool:
        """Whether to run another warm unit after ``done`` of them: until
        ``minimum`` have run, then while one more (as long as the last
        ``name`` span) still ends within ``--seconds`` of the first."""
        if done < minimum:
            return True
        took = self.durations(name)[-done:]
        return sum(took) + took[-1] <= self.seconds

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def cpu(self, name: str) -> list[float]:
        return [s["cpu_s"] for s in self.spans if s["name"] == name]

    def setup(self, make):
        """Build the inputs once and return them; records set-up, process
        start to inputs ready, as session CPU seconds and as wall seconds.
        The build is not repeated: every repeat would warm the JIT and the
        Python workers further, and the first round would no longer measure
        a fresh JVM."""
        inputs = make()
        self.setup_wall_s = time.time() - self.t0
        self.setup_cpu_s = session_cpu_s()
        return inputs

    def write_spans(self, workload: str) -> None:
        out = os.path.join(os.environ["PERFBENCH_ROOT"], ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{workload}-seed{self.seed}.json"), "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# status-store reading (traced runs only)
# ---------------------------------------------------------------------------

def store_snapshot(spark) -> dict:
    """Every job, stage and SQL execution the status store holds, as plain
    dicts: one JSON serialization per list, no per-field JVM round trips."""
    sc = spark.sparkContext
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    store = sc._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None)))
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = json.loads(mapper.writeValueAsString(sql.executionsList()))
    return {
        "jobs": jobs,
        "stages": [s for s in stages if s["status"] == "COMPLETE"],
        "execs": execs,
    }


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def job_stats(snap: dict, jobs: list[dict]) -> dict:
    """Engine work of a set of jobs: counts, task time, GC, shuffle written,
    spill, and the wall time the jobs cover (union of their intervals)."""
    ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [s for s in snap["stages"] if s["stageId"] in ids]
    spans = [(j["submissionTime"] / 1000, j["completionTime"] / 1000)
             for j in jobs if j.get("submissionTime") and j.get("completionTime")]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numTasks"] for s in stages),
        "task_s": sum(s["executorRunTime"] for s in stages) / 1000,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000,
        "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        "job_s": _union_s(spans),
    }


def in_groups(jobs: list[dict], *groups: str) -> list[dict]:
    return [j for j in jobs if j.get("jobGroup") in groups]


def in_window(jobs: list[dict], start: float, end: float) -> list[dict]:
    return [j for j in jobs
            if j.get("submissionTime") and start * 1000 <= j["submissionTime"] <= end * 1000]


def layer_metrics(snap: dict, layer: str, jobs: list[dict], per: int = 1) -> dict:
    """``<layer>.shuffle_mb/.spill_mb/.task_s/.gc_s`` of ``jobs``, divided
    by ``per`` (the number of units the jobs span)."""
    st = job_stats(snap, jobs)
    return {f"{layer}.{k}": st[k] / per for k in ("shuffle_mb", "spill_mb", "task_s", "gc_s")}


def engine_metrics(snap: dict, jobs: list[dict], per: int) -> dict:
    """The ``spark`` layer: all engine work of the measured units, per unit."""
    st = job_stats(snap, jobs)
    return {f"spark.{k}": v / per for k, v in st.items() if k != "job_s"}


_DURATION_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _timing_s(text: str) -> float:
    """Seconds of a formatted SQL timing metric: either "11 ms" or
    "total (min, med, max (stageId: taskId))\n2.2 s (488 ms, ...)"."""
    value, unit = text.splitlines()[-1].split(" (")[0].split()
    return float(value.replace(",", "")) * _DURATION_S[unit]


def sql_timing_s(execs: list[dict], metric: str) -> float:
    """Total of a timing metric over every plan node of ``execs`` that
    reports it, e.g. ArrowEvalPython's "time to run Python workers"."""
    total = 0.0
    for ex in execs:
        values = ex.get("metricValues") or {}
        for m in ex["metrics"]:
            if m["name"] == metric and str(m["accumulatorId"]) in values:
                total += _timing_s(values[str(m["accumulatorId"])])
    return total


def execs_of(snap: dict, jobs: list[dict]) -> list[dict]:
    """The SQL executions that ran any of ``jobs``."""
    ids = {j["jobId"] for j in jobs}
    return [ex for ex in snap["execs"] if ids & {int(j) for j in ex.get("jobs", {})}]
