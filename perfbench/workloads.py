"""What one pass of each workload does, and how its output is checked.

A pass only calls the package's public functions, each through
``Tracer.call`` so the traced run can time it and give it a job group.
"""

from __future__ import annotations

import fnmatch
import os

from inputs import CPA_FY_END_YEAR, fingerprint
from xlsx import read_workbook

# registry query -> the layer it exercises; the seed rotates their order
KERNELS = {
    "g15_scc": "graph",
    "g8_kcore": "graph",
    "llm_kmeans_int": "llm",
}
WORKLOADS = ["payroll_nightly", "kernels"]
# Warm passes an untraced run takes at least, about 15 s of warm work each:
# one nightly pass, or two kernel passes.  A second kernel pass runs warmer
# than the first, and a time limit alone would take one or two by chance.
MIN_WARM = {"payroll_nightly": 1, "kernels": 2}

PUA_DIMS = ["pua_ts_org", "pua_ts_dept", "pua_overtime", "pua_te_m"]
CPA_DIMS = ["cpa_ts_org", "cpa_ts_dept", "cpa_overtime", "cpa_te_m"]


def kernel_order(seed: int) -> list[str]:
    names = list(KERNELS)
    k = seed % len(names)
    return names[k:] + names[:k]


def _check(name: str, columns: list[str], rows, expected: dict) -> list[str]:
    if columns != expected["columns"]:
        return [f"{name}: columns {columns} != expected {expected['columns']}"]
    got = fingerprint(rows)
    if got["rows"] != expected["rows"] or got["fp"] != expected["fp"]:
        return [f"{name}: {got} != expected rows={expected['rows']} fp={expected['fp']}"]
    return []


# --------------------------------------------------------------------------
# payroll_nightly: the reference's own job, workbook folder to workbooks
# --------------------------------------------------------------------------

def _load_extract(spark, tr, paths: list[str]):
    """The xlsx source over the one folder that holds the picked files."""
    folder = os.path.dirname(paths[0])
    if {os.path.dirname(p) for p in paths} != {folder} or len(paths) != len(os.listdir(folder)):
        raise ValueError(f"picked extract files do not form one folder: {paths}")
    return tr.call("io", "datasources.xlsx_load", spark.read.format("xlsx").load, folder)


def nightly_pass(spark, tr, root: str, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from uofi_payroll_etl_main_spark import catalog, io
    from uofi_payroll_etl_main_spark.pipelines import run_cpa, run_pua

    cat = tr.call("catalog", "catalog.build_catalog", catalog.build_catalog, spark, root)
    listing = tr.call(
        "catalog", "catalog.select_files",
        cat.filter(F.col("extension") == ".xlsx").select("file_id", "file_path").collect,
    )
    by_id = {r.file_id: r.file_path for r in listing}

    def pick(pattern: str) -> list[str]:
        return sorted(p for fid, p in by_id.items() if fnmatch.fnmatch(fid, pattern))

    pua = _load_extract(spark, tr, pick("pua/pua_extract_*.xlsx"))
    cert_bw = _load_extract(spark, tr, pick("cert_bw/cert_bw_extract_*.xlsx"))
    cert_mn = _load_extract(spark, tr, pick("cert_mn/cert_mn_extract_*.xlsx"))
    dims = {
        name: tr.call("io", "io.read_excel_stdlib", io.read_excel_stdlib, spark,
                      by_id[f"dims/{name}.xlsx"])
        for name in PUA_DIMS + CPA_DIMS
    }
    pua_out, _ = tr.call("pipelines", "pipelines.run_pua", run_pua, pua,
                         *(dims[n] for n in PUA_DIMS))
    cpa_out, _ = tr.call("pipelines", "pipelines.run_cpa", run_cpa, cert_bw, cert_mn,
                         *(dims[n] for n in CPA_DIMS), fy_end_year=CPA_FY_END_YEAR)
    return {
        "pua": tr.call("io", "io.write_excel", io.write_excel, pua_out,
                       os.path.join(out_dir, "pua_output.xlsx")),
        "cpa": tr.call("io", "io.write_excel", io.write_excel, cpa_out,
                       os.path.join(out_dir, "cpa_output.xlsx")),
    }


def nightly_check(outputs: dict, expected: dict) -> list[str]:
    problems = []
    for name, path in outputs.items():
        header, rows = read_workbook(path)
        problems += _check(name, header, rows, expected[name])
        os.remove(path)
    return problems


# --------------------------------------------------------------------------
# kernels: iterative graph and llm registry queries over the fixed test data
# --------------------------------------------------------------------------

def kernel_pass(spark, tr, sf_dir: str, order: list[str]) -> dict:
    import __spark_entry__

    queries = __spark_entry__.queries()
    out = {}
    for name in order:
        layer = KERNELS[name]
        df = tr.call(layer, f"{name}.build", queries[name], spark, sf_dir)
        out[name] = (df.columns, tr.call(layer, f"{name}.action", df.collect))
    return out


def kernel_check(outputs: dict, expected: dict) -> list[str]:
    problems = []
    for name, (columns, rows) in outputs.items():
        problems += _check(name, columns, rows, expected[name])
    return problems
