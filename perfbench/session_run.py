"""One fresh benchmark session: set-up, a cold first pass, then warm passes.

Started by ``run.py`` as its own process, so the set-up it reports is a
real cold start.  Talks to its parent through ``@@perfbench`` lines on
stdout: ``ready`` once the session is usable, ``result`` at the end.

    python3 perfbench/session_run.py SPEC.json

SPEC.json gives the workload, seed, seconds to measure, trace flag, the
checkout root, a work directory, the inputs (a workbook folder or a test
data directory), the expected outputs and a deadline after which no
further pass starts.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import tracing as tr_mod
import workloads as wl

MARK = "@@perfbench "


def emit(event: str, **payload) -> None:
    print(MARK + json.dumps({"event": event, **payload}), flush=True)


def _pass_fn(spec: dict, spark, tracer, out_dir: str):
    w = spec["workload"]
    if w == "payroll_nightly":
        def run():
            return wl.nightly_pass(spark, tracer, spec["inputs"], out_dir)

        def check(outputs):
            return wl.nightly_check(outputs, spec["expected"])
    else:
        order = wl.kernel_order(spec["seed"])

        def run():
            return wl.kernel_pass(spark, tracer, spec["sf_dir"], order)

        def check(outputs):
            return wl.kernel_check(outputs, spec["expected"])
    return run, check


def _time_xlsx_payload(tracer) -> None:
    """Give the Excel sink's payload kernel its own span in traced passes by
    wrapping the module attribute ``io.write_excel`` looks up."""
    from uofi_payroll_etl_main_spark import io as pio

    inner = pio.xlsx_payload

    def xlsx_payload(*args, **kwargs):
        with tracer.span("io", "io.xlsx_payload"):
            return inner(*args, **kwargs)

    pio.xlsx_payload = xlsx_payload


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    t_import = time.time()
    from uofi_payroll_etl_main_spark.datasources import register_xlsx_source
    from uofi_payroll_etl_main_spark.session import get_spark

    t_spark = time.time()
    spark = get_spark("perfbench")
    t_register = time.time()
    register_xlsx_source(spark)
    t_ready = time.time()
    emit("ready")

    host_start = tr_mod.host_sample()
    trace_on = bool(spec["trace"])
    tracer = tr_mod.Tracer(spark.sparkContext, f"{spec['workload']}-{spec['seed']}", trace_on)
    tracer.add_span("session", "session.import", t_import, t_spark)
    tracer.add_span("session", "session.get_spark", t_spark, t_register)
    tracer.add_span("io", "datasources.register_xlsx_source", t_register, t_ready)
    rest = tr_mod.SparkRest(spark) if trace_on else None
    if trace_on:
        _time_xlsx_payload(tracer)
    out_dir = os.path.join(spec["work"], "out")
    os.makedirs(out_dir, exist_ok=True)
    run, check = _pass_fn(spec, spark, tracer, out_dir)
    scan_marker = "xlsx" if spec["workload"] == "payroll_nightly" else None

    passes: list[dict] = []

    def one_pass(pass_id: str) -> dict:
        if trace_on:
            rest.drain()
            rest.gc_delta_s()  # GC counted from here
        problems: list[str] = []
        with tracer.run_pass(pass_id) as rec:
            try:
                outputs = run()
            except Exception:  # a raising pass is a failed operation
                problems.append(traceback.format_exc())
        if not problems:
            try:
                problems += check(outputs)
            except Exception:  # unreadable output counts as a mismatch
                problems.append(traceback.format_exc())
        rec.update(ok=not problems, problems=problems)
        if trace_on:
            rec["spark"] = tr_mod.scrape_pass(rest, tracer, rec, scan_marker)
        for p in problems:
            print(f"pass {pass_id} failed: {p}", file=sys.stderr)
        passes.append(rec)
        return rec

    one_pass("p0")
    t_warm = time.perf_counter()
    min_warm = 3 if trace_on else wl.MIN_WARM[spec["workload"]]
    k = 1
    while True:
        rec = one_pass(f"p{k}")
        done = k >= min_warm and time.perf_counter() - t_warm >= spec["seconds"]
        if done or time.time() + 1.5 * rec["wall_s"] > spec["deadline"]:
            break
        k += 1

    host_end = tr_mod.host_sample()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    result = {
        "setup_parts": {"import_s": t_spark - t_import, "get_spark_s": t_register - t_spark,
                        "register_s": t_ready - t_register},
        "passes": [{k: v for k, v in p.items() if k != "spark"} for p in passes],
        "peak_rss_mb": {"driver": tr_mod.vm_hwm_mb(), "jvm": tr_mod.vm_hwm_mb(jvm_pid)},
        "host": {"start": host_start, "end": host_end,
                 "steal_share": tr_mod.steal_share(host_start, host_end)},
        "env": tr_mod.environment(spark, spec["root"]),
    }
    if trace_on:
        result["trace"] = {"passes": passes, "spans": tracer.spans}
    spark.stop()
    emit("result", **result)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
