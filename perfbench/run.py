"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Prepares the seeded inputs and their expected outputs (cached per seed
under ``.perfbench/`` in the checkout), then runs one fresh session
(``session_run.py``) in its own process group: set-up, one cold pass and
warm passes for S seconds (at least ``workloads.MIN_WARM``, three when
traced), every pass checked against the expectation.
The last stdout line is the result object.  With ``--trace 0`` it holds
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer
ones.  Each run also leaves a JSON record (host load and steal, versions,
per-pass times, and for traced runs every span and per-pass Spark facts)
under ``.perfbench/records/``; ``layer_diff.py`` compares two of them.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

import inputs
import workloads as wl
from tracing import LAYERS, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0  # the whole run, including set-up and teardown
TEARDOWN_S = 20.0  # kept free at the end of a run for stopping the session

SPARK_TOTALS = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb", "driver_only_s"]
# per-layer metric -> (span name(s), field summed over them)
CALL_METRICS = {
    "catalog.build_catalog_s": (["catalog.build_catalog"], "s"),
    "io.read_excel_s": (["io.read_excel_stdlib"], "s"),
    "io.write_excel_s": (["io.write_excel"], "s"),
    "io.write_excel_jobs": (["io.write_excel"], "jobs"),
    "io.xlsx_payload_s": (["io.xlsx_payload"], "s"),
    "pipelines.run_pua_s": (["pipelines.run_pua"], "s"),
    "pipelines.run_pua_jobs": (["pipelines.run_pua"], "jobs"),
    "pipelines.run_cpa_s": (["pipelines.run_cpa"], "s"),
    "pipelines.run_cpa_jobs": (["pipelines.run_cpa"], "jobs"),
}
for _q in wl.KERNELS:
    CALL_METRICS[f"{_q}.build_s"] = ([f"{_q}.build"], "s")
    CALL_METRICS[f"{_q}.build_jobs"] = ([f"{_q}.build"], "jobs")
    CALL_METRICS[f"{_q}.action_s"] = ([f"{_q}.action"], "s")
    CALL_METRICS[f"{_q}.executor_cpu_s"] = ([f"{_q}.build", f"{_q}.action"], "executor_cpu_s")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the session (JVM, Python workers) to end,
    killing what outlives the grace period."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(pgid, sig)
                except ProcessLookupError:
                    return
                time.sleep(2)
            deadline = time.monotonic() + grace_s
        time.sleep(0.1)


def run_session(spec: dict, budget_s: float) -> tuple[float, dict]:
    """(set-up seconds, result payload) of one fresh session process."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    spec = dict(spec, deadline=time.time() + budget_s - TEARDOWN_S)
    spec_path = os.path.join(WORK, "tmp", f"spec-{os.getpid()}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(_nproc()),
        # With the package's 8g default the JVM's peak RSS swung 2.7-4.4 GB
        # between identical runs on a 4-core host.  Under 1g it is bounded by
        # the cap (0.9-1.5 GB with non-heap memory) and moves little with the
        # workload, so driver-side memory is reported apart in driver_rss_mb.
        SPARK_GRAFT_DRIVER_MEM="1g",
        MALLOC_ARENA_MAX="2",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    )
    log_path = os.path.join(WORK, "tmp", f"session-{os.getpid()}.log")
    t0 = time.perf_counter()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "session_run.py"), spec_path],
            cwd=WORK, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True,
        )
    setup_s, result = None, None
    watchdog = threading.Timer(budget_s, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    try:
        for line in proc.stdout:
            if not line.startswith("@@perfbench "):
                sys.stderr.write(line)
                continue
            msg = json.loads(line[len("@@perfbench "):])
            if msg["event"] == "ready":
                setup_s = time.perf_counter() - t0
            elif msg["event"] == "result":
                result = msg
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _stop_group(proc.pid)
        os.remove(spec_path)
    if proc.returncode != 0 or setup_s is None or result is None:
        raise RuntimeError(
            f"session exited with {proc.returncode} before reporting; see {log_path}")
    if not all(p["ok"] for p in result["passes"]):
        print(f"perfbench: failed passes, see {log_path}", file=sys.stderr)
    else:
        os.remove(log_path)
    return setup_s, result


def end_to_end(setup_s: float, result: dict) -> dict:
    walls = [p["wall_s"] for p in result["passes"]]
    return {
        "setup_s": setup_s,
        "first_pass_s": walls[0],
        "run_s": statistics.median(walls[1:]),
        "peak_rss_mb": result["peak_rss_mb"]["driver"] + result["peak_rss_mb"]["jvm"],
        "driver_rss_mb": result["peak_rss_mb"]["driver"],
    }


def _span_fields(p: dict, spans: list[dict], selfs: list[float]) -> tuple[dict, dict]:
    """Per span name and per layer sums of one traced pass."""
    groups = p["spark"]["groups"]
    by_name: dict[str, dict] = {}
    by_layer = {layer: {"self_s": 0.0, "jobs": 0, "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0}
                for layer in ("bench", *LAYERS)}
    for s, self_s in zip(spans, selfs):
        if s["pass"] != p["pass"]:
            continue
        g = groups.get(s["group"] or "", {})
        d = by_name.setdefault(s["name"], {"s": 0.0, "jobs": 0, "executor_cpu_s": 0.0})
        d["s"] += s["end"] - s["start"]
        d["jobs"] += g.get("jobs", 0)
        d["executor_cpu_s"] += g.get("executor_cpu_s", 0.0)
        lay = by_layer[s["layer"]]
        lay["self_s"] += self_s
        for k in ("jobs", "executor_cpu_s", "shuffle_write_mb"):
            lay[k] += g.get(k, 0)
    return by_name, by_layer


def per_layer(result: dict) -> tuple[dict, dict]:
    """(per-layer metrics, layer table) from a traced session."""
    passes, spans = result["trace"]["passes"], result["trace"]["spans"]
    selfs = self_times(spans)
    for s, v in zip(spans, selfs):
        s["self_s"] = v
    first, warm = passes[0], passes[1:]
    fields = [_span_fields(p, spans, selfs) for p in warm]

    def med(values) -> float:
        return float(statistics.median(values))

    m: dict[str, float] = {}
    for k in SPARK_TOTALS:
        m[f"spark.{k}"] = med(p["spark"]["totals"][k] for p in warm)
        m[f"first_pass.spark.{k}"] = float(first["spark"]["totals"][k])
    m["io.xlsx_scans"] = med(p["spark"]["totals"].get("xlsx_scans", 0) for p in warm)
    for metric, (names, field) in CALL_METRICS.items():
        m[metric] = med(sum(by_name.get(n, {}).get(field, 0) for n in names)
                        for by_name, _ in fields)
    layers = {
        layer: {k: med(by_layer[layer][k] for _, by_layer in fields)
                for k in ("self_s", "jobs", "executor_cpu_s", "shuffle_write_mb")}
        for layer in ("bench", *LAYERS)
    }
    parts = result["setup_parts"]
    layers["session"]["self_s"] = parts["import_s"] + parts["get_spark_s"]  # set-up only
    for layer, row in layers.items():
        m[f"layer.{layer}.self_s"] = row["self_s"]
    m["session.get_spark_s"] = parts["get_spark_s"]
    m["datasources.register_xlsx_source_s"] = parts["register_s"]
    m["trace.overhead_s"] = med(p["tracer_s"] for p in warm)
    m["rss.driver_mb"] = result["peak_rss_mb"]["driver"]
    m["rss.jvm_mb"] = result["peak_rss_mb"]["jvm"]
    return m, layers


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "uofi_payroll_etl_main_spark")):
        print("perfbench: the package to benchmark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    spec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "root": ROOT, "work": WORK}
    if args.workload == "payroll_nightly":
        spec["inputs"], spec["expected"] = inputs.prepare_payroll(WORK, args.seed)
    else:
        # the test data set the repository's own oracle gate runs on
        from tools.check_oracles import SF_DIR

        spec["sf_dir"] = SF_DIR
        spec["expected"] = inputs.prepare_kernels(WORK, SF_DIR, list(wl.KERNELS))
    setup_s, result = run_session(spec, DEADLINE_S - (time.perf_counter() - t_start))

    passes = result["passes"]
    failed = sum(not p["ok"] for p in passes)
    if args.trace:
        values, layers = per_layer(result)
        declared = _declared("per_layer")
    else:
        values, layers = end_to_end(setup_s, result), None
        declared = _declared("end_to_end")
    metrics = {d["name"]: {"value": values[d["name"]], "unit": d["unit"]}
               for d in declared}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup_s": setup_s, **result, "metrics": metrics,
        "layers": layers,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(
        WORK, "records",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    host = result["host"]
    print(f"perfbench: record {path}; loadavg {host['start']['loadavg'][0]:.2f}"
          f" -> {host['end']['loadavg'][0]:.2f}, steal {host['steal_share']:.1%}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(passes), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
