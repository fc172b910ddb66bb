"""End-to-end PUA (SURVEY.md section 3.2) and CPA (section 3.3) pipeline
tests on FIXTURES.md-style synthetic inputs, exercising every section 5.3
edge case: Excel float codes, typo headers, nan-string defaulting, mode
tie-break, keep-first winners, FY boundary, hyphen-less COLLEGE."""

from __future__ import annotations

import uuid
import warnings

import pytest
from pyspark.sql import Row

from uofi_payroll_etl_main_spark.io import local_frame, write_excel
from uofi_payroll_etl_main_spark.pipelines.cpa import CPA_OUTPUT_COLUMNS, run_cpa
from uofi_payroll_etl_main_spark.pipelines.pua import run_pua
from uofi_payroll_etl_main_spark.registry_pipelines import pipe_pua
from uofi_payroll_etl_main_spark.report import FanOutWarning


@pytest.fixture(scope="module")
def dims(spark):
    ts_org = spark.createDataFrame(
        [Row(**{"TS-Org Code": "1-602", "TS-Org Title": "Physics"}),
         Row(**{"TS-Org Code": "1-603", "TS-Org Title": "Math"})]
    )
    ts_dept = spark.createDataFrame(
        [Row(**{"TS-Org Dept Code": "1-123", "TS-Org Dept Title": "Engineering Dept"})]
    )
    overtime = spark.createDataFrame(
        [Row(**{"Job Eclass": "EA", "Pay ID": "BW", "Overtime FLSA": "Non-Exempt",
                "Job Detail E-Class Long Desc": "Academic"}),
         Row(**{"Job Eclass": "EB", "Pay ID": "MN", "Overtime FLSA": "Exempt",
                "Job Detail E-Class Long Desc": "Monthly"})]
    )
    te_m = spark.createDataFrame(
        [Row(**{"UIN Job": "111111111-U10000-00", "TE M": "W", "Time Entry Method": "Web Time",
                "Time Entry Type": "Clock"}),
         Row(**{"UIN Job": "x", "TE M": "W", "Time Entry Method": "Web Time",
                "Time Entry Type": "Clock"}),
         Row(**{"UIN Job": "y", "TE M": "B", "Time Entry Method": "Banner",
                "Time Entry Type": "Batch"})]
    )
    return ts_org, ts_dept, overtime, te_m


def _pua_row(**over):
    base = {
        "UIN": "111111111", "Year": "2025", "Pay ID": "BW", "Pay #": "14", "Seq #": "0",
        "TS COA": "1", "TS ORG": "602", "DEPT Code": "123.0", "Department Name": "Fallback Dept",
        "ECLS": "EA", "ECLS DESC": "Acad", "TE M": "W", "Time Entry": "",
        "POSN": "U10000", "SUFF": "0.0", "College Code": "KV", "College Name": "Engineering",
        "Earn Code": "RGS", "DESCRIPTION": "Regular", "ADj Reason Code": "nan",
        "ADJ Reason DESC": "x", "Calc Date": "2025-01-15",
    }
    base.update(over)
    return Row(**base)


@pytest.fixture(scope="module")
def pua_out(spark, dims):
    ts_org, ts_dept, overtime, te_m = dims
    pua = spark.createDataFrame(
        [
            _pua_row(),
            _pua_row(),  # exact dup of the business key -> D2 collapses
            _pua_row(UIN="222222222", **{"TS ORG": "603", "ADj Reason Code": "RET",
                                         "ADJ Reason DESC": "Retro", "Calc Date": "garbage"}),
        ]
    )
    out, report = run_pua(pua, ts_org, ts_dept, overtime, te_m)
    return out.orderBy("UIN").collect(), out.columns, report


def test_pua_output_contract_columns(pua_out):
    _, cols, _ = pua_out
    assert len(cols) == 26
    assert cols[:6] == ["UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number"]
    assert "TS ORG" in cols  # FINAL_RENAMES applied
    assert "Adjustment Reason Description" in cols


def test_pua_dedup_and_derived_keys(pua_out):
    got, _, _ = pua_out
    assert len(got) == 2  # business-key dedup collapsed the repeat
    r = got[0]
    assert r["Job Number"] == "U10000-0"          # POSN-SUFF with .0 repair
    assert r["TS-Org Code"] == "1-602"
    assert r["Dept Code"] == "123"                # strip_decimal_str
    assert r["College"] == "KV-Engineering"


def test_pua_join_enrichment(pua_out):
    got, _, _ = pua_out
    by_uin = {r["UIN"]: r for r in got}
    assert by_uin["111111111"]["TS-Org Title"] == "Physics"
    assert by_uin["222222222"]["TS-Org Title"] == "Math"
    assert by_uin["111111111"]["TS-Org Dept Code"] == "1-123"
    assert by_uin["111111111"]["TS-Org Dept Title"] == "Engineering Dept"
    assert by_uin["111111111"]["Overtime"] == "Non-Exempt"


def test_pua_time_entry_mode_fill(pua_out):
    got, _, _ = pua_out
    # Time Entry was '' -> filled from the TE M mode map ('W' -> Web Time)
    assert all(r["Time Entry"] == "Web Time" for r in got)


def test_pua_adj_reason_default(pua_out):
    got, _, _ = pua_out
    by_uin = {r["UIN"]: r for r in got}
    # 'nan' string -> INT/Internal default (ref :324-328)
    assert by_uin["111111111"]["Adjustment Reason Code"] == "INT"
    assert by_uin["111111111"]["Adjustment Reason Description"] == "Internal"
    # real code kept
    assert by_uin["222222222"]["Adjustment Reason Code"] == "RET"


def test_pua_calc_date_coerce(pua_out):
    got, _, _ = pua_out
    by_uin = {r["UIN"]: r for r in got}
    assert by_uin["111111111"]["Calc Date"] is not None
    assert by_uin["222222222"]["Calc Date"] is None  # "garbage" coerced


# ---------- CPA ----------

CERT_COLS = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID", "TRAN_COMPNT",
    "ADJ_REASON", "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB", "JOB_TITLE",
    "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS", "COLLEGE", "OWNING_UIN", "LAST_NAME",
    "FIRST_NAME", "UI_ENTERPRISE_ID", "EMAIL_ADDR", "HRLY_RATE", "RT_LEAVE_DT",
    "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE", "ACTION", "ROUTED_BY_UIN",
    "RETURNED_FLAG", "TRAN_ROUTE_DT", "ELAPSED_WORK_TIME", "ROUTE_STOP_TIME",
    "ELAPSED_TRAN_TIME",
]


CERT_SCHEMA = ", ".join(f"`{c}` string" for c in CERT_COLS)


def _cert_row(**over):
    base = {c: None for c in CERT_COLS}
    base.update(
        UIN="111111111", PAY_YEAR="2025", PAY_ID="BW", PAY_NBR="14", PAY_SEQ="0",
        TRAN_CREATE_DT="2024-09-15 10:00:00", JOB="U10000-00", JOB_TITLE="RA",
        JOB_TS_COAS="1", JOB_TS_ORGN="602", JOB_ECLS="EA",
        COLLEGE="KV-Engineering", ACTION="3 - Apply",
    )
    base.update(over)
    return Row(**{c: base[c] for c in CERT_COLS})


@pytest.fixture(scope="module")
def cpa_out(spark, dims):
    ts_org, ts_dept, overtime, te_m = dims
    bw = spark.createDataFrame(
        [
            _cert_row(LVL="bw-first"),
            _cert_row(LVL="bw-first"),                        # D3: exact dup collapses
            _cert_row(UIN="333333333", COLLEGE="NOHYPHEN",    # E7 guard
                      ACTION="3 - Apply", LVL="keep"),
            _cert_row(UIN="444444444", ACTION="1 - Review",   # P7 filter drops
                      LVL="drop-action"),
            _cert_row(UIN="555555555",                        # P6 filter drops (outside FY25)
                      TRAN_CREATE_DT="2023-01-01 00:00:00", LVL="drop-date"),
            _cert_row(UIN="666666666",                        # E8 coerce -> null -> dropped
                      TRAN_CREATE_DT="not a date", LVL="drop-coerce"),
        ],
        CERT_SCHEMA,
    )
    mn = spark.createDataFrame(
        [_cert_row(PAY_ID="MN", LVL="mn-later")],  # same UIN Job as bw-first: D4 keeps BW row
        CERT_SCHEMA,
    )
    out, report = run_cpa(bw, mn, ts_org, ts_dept, overtime, te_m, fy_end_year=2025)
    return out.collect(), out.columns, report


def test_cpa_output_columns(cpa_out):
    _, cols, _ = cpa_out
    assert cols == CPA_OUTPUT_COLUMNS


def test_cpa_filters_and_dedup(cpa_out):
    got, _, _ = cpa_out
    uins = sorted(r["UIN"] for r in got)
    # 111111111 once (D3+D4), 333333333 kept; ACTION/date/coerce rows gone
    assert uins == ["111111111", "333333333"]


def test_cpa_keep_first_prefers_bw_source(cpa_out):
    got, _, _ = cpa_out
    r = {x["UIN"]: x for x in got}["111111111"]
    # BW row (src=0) beats the MN row (src=1) for the same UIN Job
    assert r["Pay ID"] == "BW"


def test_cpa_enrichment_and_split(cpa_out):
    got, _, _ = cpa_out
    by_uin = {r["UIN"]: r for r in got}
    r = by_uin["111111111"]
    assert r["TS-Org Code"] == "1-602"
    assert r["TS-Org Title"] == "Physics"       # renamed TS-Org Name -> output contract
    assert r["College Code"] == "KV"
    assert r["College Name"] == "Engineering"
    assert r["Overtime"] == "Non-Exempt"        # composite-key join hit
    assert r["Time Entry"] == "Web Time"        # J7 row join / mode fill
    g = by_uin["333333333"]
    assert g["College Code"] == "NOHYPHEN" and g["College Name"] == ""


def test_cpa_schema_check_warns_on_contract(spark, dims, cpa_out):
    ts_org, ts_dept, overtime, te_m = dims
    # conforming input -> schema_ok recorded True
    _, _, good_report = cpa_out
    assert good_report.schema_ok.get("cpa_cert") is True
    # extra column -> ordered-contract mismatch -> warn-only (run still succeeds)
    extra = spark.createDataFrame(
        [Row(**{**_cert_row().asDict(), "EXTRA": "x"})], CERT_SCHEMA + ", `EXTRA` string"
    )
    out, report = run_cpa(extra, extra, ts_org, ts_dept, overtime, te_m, fy_end_year=2025)
    assert report.schema_ok.get("cpa_cert") is False
    assert any("cpa_cert" in w for w in report.warnings)
    assert out.columns == CPA_OUTPUT_COLUMNS


def test_pua_caller_supplied_ingest_order(spark, dims):
    """Pass-through contract: a pre-set __ingest_order drives keep-first,
    independent of physical row order, and string-typed orders are cast
    to long (lexicographic '10' < '2' must NOT decide the winner)."""
    ts_org, ts_dept, overtime, te_m = dims
    rows = [
        # physical order puts the high-order row FIRST; supplied order
        # says it is last -> the "2"-order row must win.  String order
        # would pick "10" < "2" (wrong).
        Row(**{**_pua_row(**{"Time Entry": "TenthRow"}).asDict(), "__ingest_order": "10"}),
        Row(**{**_pua_row(**{"Time Entry": "SecondRow"}).asDict(), "__ingest_order": "2"}),
    ]
    pua = spark.createDataFrame(rows)
    out, report = run_pua(pua, ts_org, ts_dept, overtime, te_m)
    got = out.collect()
    assert len(got) == 1
    assert got[0]["Time Entry"] == "SecondRow"
    assert any("caller-supplied __ingest_order" in w for w in report.warnings)


def test_cpa_caller_supplied_ingest_order(spark, dims):
    """Both cert sources carry explicit orders; within a source the
    numeric (not lexicographic) order picks the keep-first winner, and
    BW still beats MN for the same key."""
    ts_org, ts_dept, overtime, te_m = dims
    def cert(order, college):
        return Row(**{**_cert_row().asDict(), "COLLEGE": college, "__ingest_order": order})
    schema = CERT_SCHEMA + ", `__ingest_order` string"
    bw = spark.createDataFrame([cert("10", "KV-Late"), cert("2", "KV-Early")], schema)
    mn = spark.createDataFrame([cert("1", "KV-MnFirst")], schema)
    out, report = run_cpa(bw, mn, ts_org, ts_dept, overtime, te_m, fy_end_year=2025)
    got = out.collect()
    assert len(got) == 1
    # winner is the bw source (src 0) row with NUMERIC order 2 (string
    # order would pick '10' < '2'); mn (src 1) loses despite order 1
    assert got[0]["Pay ID"] == "BW"
    assert got[0]["College Name"] == "Early"
    assert any("caller-supplied __ingest_order" in w for w in report.warnings)


def _pua_fanout_report(spark, dims, tmp_path, ts_org):
    _, ts_dept, overtime, te_m = dims
    pua = spark.createDataFrame([_pua_row(), _pua_row(UIN="222222222", **{"TS ORG": "603"})])
    out, report = run_pua(pua, ts_org, ts_dept, overtime, te_m)
    write_excel(out, str(tmp_path / "pua_output.xlsx"))
    return report


def test_pua_fan_out_warns_after_the_write(spark, dims, tmp_path):
    """A non-unique dim key is caught by the counts observed during the
    Excel write: reading the report afterwards names the join and its
    before -> after counts and emits FanOutWarning."""
    ts_org = dims[0].union(
        spark.createDataFrame([Row(**{"TS-Org Code": "1-602", "TS-Org Title": "Other"})])
    )
    report = _pua_fanout_report(spark, dims, tmp_path, ts_org)
    with pytest.warns(FanOutWarning) as caught:
        warned = report.warnings
    msg = "left join on 'TS-Org Code' changed the row count: 2 -> 3"
    assert warned == [msg]
    assert [str(w.message) for w in caught] == [msg]
    assert [n for n in report.fan_out if n[1] != n[2]] == [("left join on 'TS-Org Code'", 2, 3)]


def test_pua_unique_dims_stay_quiet(spark, dims, tmp_path):
    report = _pua_fanout_report(spark, dims, tmp_path, dims[0])
    with warnings.catch_warnings():
        warnings.simplefilter("error", FanOutWarning)
        assert report.warnings == []
    assert [(b, a) for _, b, a in report.fan_out] == [(2, 2)] * 3


def test_pipelines_build_without_jobs(spark, dims):
    """Building both plans is lazy: every check (fan-out included) rides
    the output action, so no Spark job runs before it."""
    ts_org, ts_dept, overtime, te_m = dims
    pua = spark.createDataFrame([_pua_row(), _pua_row(UIN="222222222")])
    bw = spark.createDataFrame([_cert_row()], CERT_SCHEMA)
    mn = spark.createDataFrame([_cert_row(PAY_ID="MN")], CERT_SCHEMA)
    sc = spark.sparkContext
    group = f"lazy-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build run_pua and run_cpa")
    try:
        run_pua(pua, ts_org, ts_dept, overtime, te_m)
        run_cpa(bw, mn, ts_org, ts_dept, overtime, te_m, fy_end_year=2025)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_cpa_keep_first_collapses_duplicates_and_prefers_earliest_bw(spark, dims):
    """D3 + D4 (ref :545-547) as one keep-first: a row fully duplicated at
    two positions comes out once, and of the rows sharing a UIN Job the
    earliest BW row wins over a later BW row and over an MN row."""
    ts_org, ts_dept, overtime, te_m = dims
    bw = spark.createDataFrame(
        [
            _cert_row(UIN="777777777", COLLEGE="KV-Dup"),
            _cert_row(COLLEGE="KV-Earliest"),
            _cert_row(UIN="777777777", COLLEGE="KV-Dup"),  # full duplicate of row 0
            _cert_row(COLLEGE="KV-Later"),                 # same UIN Job, later in BW
        ],
        CERT_SCHEMA,
    )
    mn = spark.createDataFrame(
        [_cert_row(PAY_ID="MN", COLLEGE="KV-Monthly")], CERT_SCHEMA  # same UIN Job in MN
    )
    out, _ = run_cpa(bw, mn, ts_org, ts_dept, overtime, te_m, fy_end_year=2025)
    got = sorted((r["UIN"], r["Pay ID"], r["College Name"]) for r in out.collect())
    assert got == [("111111111", "BW", "Earliest"), ("777777777", "BW", "Dup")]


# ---------- driver-held dims ----------


@pytest.fixture(scope="module")
def local_dims(spark):
    """The `dims` tables as io.local_frame frames (Arrow LocalRelations)."""
    return (
        local_frame(spark, [("1-602", "Physics"), ("1-603", "Math")],
                    "`TS-Org Code` string, `TS-Org Title` string"),
        local_frame(spark, [("1-123", "Engineering Dept")],
                    "`TS-Org Dept Code` string, `TS-Org Dept Title` string"),
        local_frame(spark, [("EA", "BW", "Non-Exempt", "Academic"),
                            ("EB", "MN", "Exempt", "Monthly")],
                    "`Job Eclass` string, `Pay ID` string, `Overtime FLSA` string,"
                    " `Job Detail E-Class Long Desc` string"),
        local_frame(spark, [("111111111-U10000-00", "W", "Web Time", "Clock"),
                            ("x", "W", "Web Time", "Clock"), ("y", "B", "Banner", "Batch")],
                    "`UIN Job` string, `TE M` string, `Time Entry Method` string,"
                    " `Time Entry Type` string"),
    )


def _run_both(spark, dims):
    """(PUA rows, CPA rows), each sorted, of a small fact through both
    pipelines against `dims`."""
    pua = spark.createDataFrame(
        [_pua_row(), _pua_row(), _pua_row(UIN="222222222", **{"TS ORG": "603"})]
    )
    bw = spark.createDataFrame(
        [_cert_row(), _cert_row(UIN="333333333", JOB_ECLS="EB", PAY_ID="MN")], CERT_SCHEMA
    )
    mn = spark.createDataFrame([_cert_row(PAY_ID="MN", COLLEGE="KV-Monthly")], CERT_SCHEMA)
    pua_out, _ = run_pua(pua, *dims)
    cpa_out, _ = run_cpa(bw, mn, *dims, fy_end_year=2025)
    return (sorted((r.asDict() for r in pua_out.collect()), key=repr),
            sorted((r.asDict() for r in cpa_out.collect()), key=repr))


def _shuffles_over_local_scans(df) -> list[str]:
    """The shuffle Exchange lines of `df`'s executed plan whose subtree
    holds a LocalTableScan."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    found = []
    for i, line in enumerate(lines):
        if not line.lstrip(" :+-").startswith("Exchange "):
            continue
        for below in lines[i + 1:]:
            if depth(below) <= depth(line):
                break
            if "LocalTableScan" in below:
                found.append(line.strip())
                break
    return found


def test_local_frame_is_one_partition_up_to_one_file_split(spark):
    rows = [(str(i), f"name-{i}") for i in range(40)]
    schema = "k string, v string"
    assert local_frame(spark, rows, schema).rdd.getNumPartitions() == 1
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        assert local_frame(spark, rows, schema).rdd.getNumPartitions() > 1
    finally:
        spark.conf.set(key, before)


def test_driver_held_dims_plan_no_shuffle(spark, sf_dir, local_dims):
    """Over a one-partition dim, dedup, mode-aggregate groupBy and window
    already have their distribution: after the action, no shuffle
    Exchange has a LocalTableScan below it."""
    pua = pipe_pua(spark, sf_dir)
    assert pua.collect()
    assert _shuffles_over_local_scans(pua) == []
    bw = spark.createDataFrame([_cert_row()], CERT_SCHEMA)
    mn = spark.createDataFrame([_cert_row(PAY_ID="MN")], CERT_SCHEMA)
    cpa, _ = run_cpa(bw, mn, *local_dims, fy_end_year=2025)
    assert cpa.collect()
    assert "LocalTableScan" in cpa._jdf.queryExecution().executedPlan().toString()
    assert _shuffles_over_local_scans(cpa) == []


def test_local_dims_same_rows_under_other_settings(spark, local_dims):
    """Plans over driver-held dims change with the settings, rows never:
    broadcasts off, one shuffle partition and ANSI on all return the
    rows of the session defaults."""
    want = _run_both(spark, local_dims)
    assert all(want)
    for key, value in [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.shuffle.partitions", "1"),
        ("spark.sql.ansi.enabled", "true"),
    ]:
        before = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            got = _run_both(spark, local_dims)
        finally:
            spark.conf.set(key, before)
        assert got == want, key


def test_zero_row_local_dims_keep_every_fact_row(spark, local_dims):
    """Empty driver-held dims: every fact row survives the left joins,
    with null dim columns."""
    empty = tuple(local_frame(spark, [], d.schema) for d in local_dims)
    want_pua, want_cpa = _run_both(spark, local_dims)
    pua, cpa = _run_both(spark, empty)
    assert len(pua) == len(want_pua) and len(cpa) == len(want_cpa)
    for r in pua:
        assert r["TS-Org Title"] is None and r["TS-Org Dept Code"] is None
        assert r["Overtime"] is None
    for r in cpa:
        assert r["TS-Org Title"] is None and r["TS-Org Dept Title"] is None
        assert r["Overtime"] is None and r["TE M"] is None
