"""CPA dataflow (SURVEY.md section 3.3; ref etl_payroll_pipeline.py
:433-591).

Input frames: cert_bw + cert_mn (certification extracts, same schema),
plus the ts_org / ts_dept / overtime / te_m dims.  Returns
(cpa_out, report): the 20-column contract frame and the run report.

Fiscal year is a PARAMETER (fy_end_year) rather than datetime.today()
(ref :444-447) so runs are reproducible; callers default it to the
current year for reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import expressions as E
from ..aggregates import mode_agg
from ..dedup import INGEST_ORDER_COL, keep_first, with_ingest_order
from ..joins import broadcast_left_join, dict_map_join
from ..predicates import between_dates, fiscal_year_bounds
from ..report import RunReport, check_schema
from ..setops import union_by_name

# Ref :458-464 -- expected certification schema (V2 check, warn-only).
EXPECTED_CERT_COLUMNS = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID", "TRAN_COMPNT", "ADJ_REASON",
    "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB", "JOB_TITLE", "JOB_TS_COAS", "JOB_TS_ORGN",
    "JOB_ECLS", "COLLEGE", "OWNING_UIN", "LAST_NAME", "FIRST_NAME", "UI_ENTERPRISE_ID",
    "EMAIL_ADDR", "HRLY_RATE", "RT_LEAVE_DT", "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE",
    "ACTION", "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT", "ELAPSED_WORK_TIME",
    "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME",
]

# Ref :563-584 -- bulk rename to output vocabulary.
CPA_RENAMES = {
    "PAY_ID": "Pay ID",
    "PAY_YEAR": "Year",
    "PAY_NBR": "Pay #",
    "PAY_SEQ": "Seq #",
    "JOB": "Job Number",
    "COLLEGE": "College",
    "JOB_TS_COAS": "TS COA",
    "JOB_TS_ORGN": "TS Org",
    "TS-Org Name": "TS-Org Title",
    "TS-Org Department Name": "TS-Org Dept Title",
    "JOB_ECLS": "E-Class Code",
    "E-Class Description": "E-Class",
    "Overtime FLSA": "Overtime",
}

# Ref :586-589 -- the 20-column output selection.
CPA_OUTPUT_COLUMNS = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number", "College Code",
    "College Name", "College", "TS COA", "TS Org", "TS-Org Code",
    "TS-Org Title", "TS-Org Dept Code", "TS-Org Dept Title", "E-Class Code",
    "E-Class", "TE M", "Time Entry", "Overtime",
]


def run_cpa(
    cert_bw: DataFrame,
    cert_mn: DataFrame,
    ts_org: DataFrame,
    ts_dept: DataFrame,
    overtime: DataFrame,
    te_m: DataFrame,
    fy_end_year: int,
    report: RunReport | None = None,
) -> tuple[DataFrame, RunReport]:
    report = report or RunReport()

    # E1 header trim -> U1 union-by-name (ref :433-436).  Ingest order is
    # captured per-source BEFORE the union so keep-first dedup later
    # reproduces "BW file rows precede MN file rows" exactly; the second
    # source gets an offset beyond monotonically_increasing_id's range.
    def _tagged(frame: DataFrame, src_idx: int) -> DataFrame:
        # Respect a caller-supplied explicit order column (gate queries
        # derive one from a data column for cross-engine determinism).
        # Cast to long so (a) keep-first never orders lexicographically
        # on a string-typed order column and (b) both union sides build
        # the same struct<src:int,row:long> type regardless of source.
        if INGEST_ORDER_COL in frame.columns:
            report.warn("run_cpa: using caller-supplied __ingest_order as dedup order")
            base = frame.withColumn(INGEST_ORDER_COL, F.col(INGEST_ORDER_COL).cast("long"))
        else:
            base = with_ingest_order(frame)
        return base.withColumn(
            INGEST_ORDER_COL,
            F.struct(F.lit(src_idx).alias("src"), F.col(INGEST_ORDER_COL).alias("row")),
        )

    bw = _tagged(E.clean_headers(cert_bw), 0)
    mn = _tagged(E.clean_headers(cert_mn), 1)
    df = union_by_name(bw, mn)

    # E8 coerce parse + P6 fiscal-year filter (ref :438-452).
    df = df.withColumn("TRAN_CREATE_DT", E.to_ts_coerce("TRAN_CREATE_DT"))
    fy_start, fy_end = fiscal_year_bounds(fy_end_year)
    df = df.filter(between_dates("TRAN_CREATE_DT", fy_start, fy_end))

    # V2 schema contract check, warn-only (ref :457-471).
    check_schema(df.drop(INGEST_ORDER_COL), EXPECTED_CERT_COLUMNS, report, "cpa_cert")

    # E4/E6 derived keys + E14 whole-frame strip (ref :473-482).
    org_code = E.concat_key(E.ensure_string("JOB_TS_COAS"), E.ensure_string("JOB_TS_ORGN"))
    df = df.withColumns({"TS-Org Code": org_code, "Dept TS-Org": E.prefix(org_code, 5)})
    # E14 touches only string-typed columns; the struct-typed order column
    # passes through untouched.
    df = E.strip_all_strings(df)
    df = df.withColumns(
        {
            "JOB_ECLS": E.ensure_string("JOB_ECLS"),
            "PAY_ID": E.ensure_string("PAY_ID"),
            "UIN Job": E.concat_key(E.ensure_string("UIN"), E.ensure_string("JOB")),
        }
    )

    ot = overtime.withColumns({c: E.ensure_string(c) for c in ("Job Eclass", "Pay ID")})

    # J5 org (rename -> TS-Org Name), J6 dept on the 5-char prefix key.
    df = broadcast_left_join(
        df, ts_org, "TS-Org Code", keep_cols=["TS-Org Code", "TS-Org Title"],
        rename={"TS-Org Title": "TS-Org Name"},
    )
    df = broadcast_left_join(
        df, ts_dept, {"Dept TS-Org": "TS-Org Dept Code"},
        keep_cols=["TS-Org Dept Code", "TS-Org Dept Title"],
        rename={"TS-Org Dept Title": "TS-Org Department Name"},
    )

    # J7 time-entry row join (ref :511-515).
    df = broadcast_left_join(
        df, te_m, "UIN Job",
        keep_cols=["UIN Job", "TE M", "Time Entry Method", "Time Entry Type"],
    )

    # A1/J9/E10 time-entry mode fill (ref :517-533).
    te = te_m.select(
        E.ensure_string("TE M").alias("TE M"),
        E.ensure_string("Time Entry Method").alias("Time Entry Method"),
    ).filter(F.col("TE M").isNotNull() & F.col("Time Entry Method").isNotNull())
    te_map = mode_agg(te, "TE M", "Time Entry Method", out_col="__mapped_te")
    df = E.ensure_column(df, "Time Entry")
    df = df.withColumns({c: E.ensure_string(c) for c in ("TE M", "Time Entry")})
    df = dict_map_join(df, te_map, "TE M", "__mapped_te")
    df = df.withColumn("Time Entry", E.keep_or_replace("Time Entry", "__mapped_te")).drop(
        "__mapped_te"
    )

    # J8 composite-key overtime join (ref :535-543).  Dim-side keys are
    # dropped post-join: the reference instead lets a duplicate 'Pay ID'
    # arise and drops the second occurrence at :591 -- same result.
    df = broadcast_left_join(
        df, ot, {"JOB_ECLS": "Job Eclass", "PAY_ID": "Pay ID"},
        keep_cols=["Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"],
        rename={"Job Detail E-Class Long Desc": "E-Class Description"},
        drop_dim_keys=True,
    )

    # P7 ACTION filter -> D3 full dedup -> D4 keep-first by UIN Job
    # (ref :545-547) as ONE keep-first: the earliest row of a UIN Job is
    # also the earliest row of its full-duplicate group (UIN Job is one of
    # the data columns), and the (src, row) order is unique per row, so
    # D3 never removes the row D4 keeps.  A null UIN Job groups the same
    # way in both forms.
    df = df.filter(F.col("ACTION") == "3 - Apply")
    df = keep_first(df, ["UIN Job"], F.col(INGEST_ORDER_COL))

    # E7 college split with no-hyphen guard (ref :549-560).
    code, name = E.split_first("COLLEGE")
    df = df.withColumns({"College Code": code, "College Name": name})

    # E13 bulk rename -> P8 20-col select -> P10 dup resolution
    # (ref :563-591).
    df = E.rename_columns(df.drop(INGEST_ORDER_COL), CPA_RENAMES)
    out = df.select(*[c for c in CPA_OUTPUT_COLUMNS if c in df.columns])
    return out, report
