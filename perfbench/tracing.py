"""Spans, Spark job accounting and host facts for one benchmark session.

Everything here runs in the benchmark's own process around calls into the
package; nothing is patched into ``uofi_payroll_etl_main_spark`` on disk.
Spark-side numbers come from the UI REST API, read once the listener bus
has delivered every event of the pass.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import platform
import subprocess
import time
import urllib.request
from contextlib import contextmanager

LAYERS = ("session", "catalog", "io", "pipelines", "graph", "llm")


class Tracer:
    """Per-call job groups and spans for one session.

    With ``enabled`` off, a pass runs under one job group and records only
    its wall time.  With it on, every call into the package gets its own job
    group and a span (name, layer, start, end, parent, run id).
    """

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = "setup"
        self.own_s = 0.0  # time spent in span bookkeeping and job-group calls

    def group(self, name: str) -> str:
        return f"{self.run_id}/{self.pass_id}/{name}"

    def add_span(self, layer: str, name: str, start: float, end: float) -> None:
        """A span timed before the tracer existed (session set-up)."""
        if self.enabled:
            self.spans.append({"name": name, "layer": layer, "pass": self.pass_id,
                               "run": self.run_id, "parent": None, "group": None,
                               "start": start, "end": end})

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        span = {"name": name, "layer": layer, "pass": self.pass_id, "run": self.run_id,
                "parent": self._stack[-1] if self._stack else None, "group": None}
        self.spans.append(span)
        top_level = len(self._stack) == 1  # directly under the pass span
        if top_level:
            span["group"] = self.group(f"{idx}:{name}")
            self.sc.setJobGroup(span["group"], name)
        self._stack.append(idx)
        span["start"] = time.time()
        self.own_s += time.perf_counter() - t0
        try:
            yield
        finally:
            span["end"] = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if top_level:
                self.sc.setJobGroup(self.group("bench"), "benchmark glue")
            self.own_s += time.perf_counter() - t1

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        with self.span(layer, name):
            return fn(*args, **kwargs)

    @contextmanager
    def run_pass(self, pass_id: str):
        """One pass under its own job group; yields a dict that receives the
        pass's wall seconds, epoch bounds and the tracer's own seconds."""
        self.pass_id = pass_id
        self.sc.setJobGroup(self.group("bench"), f"pass {pass_id}")
        rec: dict = {"pass": pass_id}
        if self.enabled:
            self._stack = [len(self.spans)]
            span = {"name": "pass", "layer": "bench", "pass": pass_id, "run": self.run_id,
                    "parent": None, "group": self.group("bench")}
            self.spans.append(span)
        own0 = self.own_s
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["tracer_s"] = self.own_s - own0
            if self.enabled:
                span["start"], span["end"] = rec["start"], rec["end"]
                self._stack = []


def self_times(spans: list[dict]) -> list[float]:
    """A span's duration minus the part its child spans cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, child)]


# --------------------------------------------------------------------------
# Spark UI REST API
# --------------------------------------------------------------------------

def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class SparkRest:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self._gc_ms = self._executor_gc_ms()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs of the pass that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _executor_gc_ms(self) -> int:
        return sum(e.get("totalGCTime", 0) for e in self._get("/allexecutors"))

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self, ids: set[int]) -> list[dict]:
        return [s for s in self._get("/stages?details=false") if s["stageId"] in ids]

    def sql_executions(self) -> list[dict]:
        return self._get("/sql?details=true&planDescription=false&offset=0&length=100000")

    def gc_delta_s(self) -> float:
        now = self._executor_gc_ms()
        delta, self._gc_ms = now - self._gc_ms, now
        return delta / 1000.0


def stage_totals(stages: list[dict]) -> dict:
    ran = [s for s in stages if s["status"] == "COMPLETE"]
    return {
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / 2**20,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran) / 2**20,
    }


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def scrape_pass(rest: SparkRest, tracer: Tracer, rec: dict, scan_marker: str | None) -> dict:
    """Spark facts of one traced pass: totals and a per-span breakdown."""
    rest.drain()
    prefix = f"{tracer.run_id}/{rec['pass']}/"
    jobs = [j for j in rest.jobs() if (j.get("jobGroup") or "").startswith(prefix)]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = {s["stageId"]: s for s in rest.stages(stage_ids)}
    intervals = [
        (_epoch(j["submissionTime"]), _epoch(j.get("completionTime")) or rec["end"])
        for j in jobs if j.get("submissionTime")
    ]
    busy = busy_seconds(intervals, rec["start"], rec["end"])
    totals = {
        "jobs": len(jobs),
        **stage_totals(list(stages.values())),
        "gc_s": rest.gc_delta_s(),
        "driver_only_s": (rec["end"] - rec["start"]) - busy,
        "stages_missing": len(stage_ids - stages.keys()),
    }
    per_group: dict[str, dict] = {}
    for j in jobs:
        g = per_group.setdefault(j["jobGroup"], {"jobs": 0, "stage_ids": set()})
        g["jobs"] += 1
        g["stage_ids"].update(j["stageIds"])
    for g in per_group.values():
        g.update(stage_totals([stages[i] for i in g.pop("stage_ids") if i in stages]))
    if scan_marker is not None:
        job_ids = {j["jobId"] for j in jobs}
        totals["xlsx_scans"] = sum(
            1
            for e in rest.sql_executions()
            if job_ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", []))
            for n in e.get("nodes", [])
            if scan_marker in n.get("nodeName", "")
        )
    return {"totals": totals, "groups": per_group}


# --------------------------------------------------------------------------
# host facts
# --------------------------------------------------------------------------

def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_sample() -> dict:
    """Load average and cumulative CPU jiffies (total and steal)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"time": time.time(), "loadavg": load, "cpu_jiffies": sum(cpu),
            "steal_jiffies": cpu[7] if len(cpu) > 7 else 0}


def steal_share(a: dict, b: dict) -> float:
    total = b["cpu_jiffies"] - a["cpu_jiffies"]
    return (b["steal_jiffies"] - a["steal_jiffies"]) / total if total > 0 else 0.0


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def environment(spark, root: str) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark.version,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "git_sha": git_sha(root),
    }
