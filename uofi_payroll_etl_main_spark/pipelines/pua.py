"""PUA dataflow (SURVEY.md section 3.2; ref etl_payroll_pipeline.py
:235-380).

Input frames (already loaded; see io/catalog for the source layer):
    pua        -- primary payroll extract
    ts_org     -- org dim  (TS-Org Code, TS-Org Title)
    ts_dept    -- dept dim (TS-Org Dept Code, TS-Org Dept Title)
    overtime   -- e-class dim (Job Eclass, Overtime FLSA, ...)
    te_m       -- time-entry lookup (TE M, Time Entry Method, ...)

Returns (pua_out, report): the 26-column output contract frame and the
structured run report.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import expressions as E
from ..aggregates import mode_agg
from ..dedup import INGEST_ORDER_COL, dedup_keys_tolerant, with_ingest_order
from ..joins import dict_map_join, safe_merge_left
from ..report import RunReport

# Ref :330-357 -- the 26-column PUA output contract (dst -> src).
PUA_COL_MAP = OrderedDict(
    [
        ("UIN", "UIN"),
        ("Pay ID", "Pay ID"),
        ("Year", "Year"),
        ("Pay #", "Pay #"),
        ("Seq #", "Seq #"),
        ("Job Number", "Job Number"),
        ("College Code", "College Code"),
        ("College Name", "College Name"),
        ("College", "College"),
        ("TS COA", "TS COA"),
        ("TS Org", "TS ORG"),
        ("TS-Org Code", "TS-Org Code"),
        ("TS-Org Title", "TS-Org Title"),
        ("Dept Code", "DEPT Code"),
        ("TS-Org Dept Code", "TS-Org Dept Code"),
        ("TS-Org Dept Title", "TS-Org Dept Title"),
        ("E-Class Code", "ECLS"),
        ("E-Class", "ECLS DESC"),
        ("TE M", "TE M"),
        ("Time Entry", "Time Entry"),
        ("Overtime", "Overtime"),
        ("Earn Code", "Earn Code"),
        ("Earn Code Description", "DESCRIPTION"),
        ("Adjustment Reason Code", "ADJ Reason Code"),
        ("Adjustment Reason", "ADJ Reason DESC"),
        ("Calc Date", "Calc Date"),
    ]
)

# Ref :301-312 -- projection before dedup.
SOURCE_FIELDS = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number",
    "College Code", "College Name", "College",
    "TS COA", "TS ORG", "TS-Org Code", "TS-Org Title",
    "DEPT Code", "TS-Org Dept Code", "TS-Org Department Code", "TS-Org Dept Title",
    "ECLS", "ECLS DESC", "E-Class", "TE M", "Time Entry", "Overtime",
    "Earn Code", "DESCRIPTION", "ADJ Reason Code", "ADJ Reason DESC",
    "Calc Date", "Pay Event", "POSN", "SUFF",
]

RENAME_NORMALIZE = {
    "ADj Reason Code": "ADJ Reason Code",
    "Adj Reason Code": "ADJ Reason Code",
    "Adj Reason": "ADJ Reason DESC",
}

FINAL_RENAMES = {"TS Org": "TS ORG", "Adjustment Reason": "Adjustment Reason Description"}


def run_pua(
    pua: DataFrame,
    ts_org: DataFrame,
    ts_dept: DataFrame,
    overtime: DataFrame,
    te_m: DataFrame,
    report: RunReport | None = None,
) -> tuple[DataFrame, RunReport]:
    report = report or RunReport()
    # An input that already carries INGEST_ORDER_COL supplies its own
    # explicit row order (the gate queries derive one from a data column
    # so Spark and the DuckDB oracle agree exactly); otherwise capture
    # physical read order at the source edge.  The supplied column is
    # cast to long: a string-typed order would sort lexicographically
    # ('10' < '2') and silently flip keep-first winners.
    if INGEST_ORDER_COL in pua.columns:
        report.warn("run_pua: using caller-supplied __ingest_order as dedup order")
        src = pua.withColumn(INGEST_ORDER_COL, F.col(INGEST_ORDER_COL).cast("long"))
    else:
        src = with_ingest_order(pua)
    df = E.clean_headers(src)

    # Derived keys (ref :238-254); F.concat null-propagates like pandas `+`.
    text = ["TS COA", "TS ORG", "Department Name", "Year", "Pay ID", "Pay #", "Seq #",
            "College Code", "College Name"]
    df = df.withColumns({c: E.ensure_string(c) for c in text if c in df.columns})
    dept, posn, suff = (E.strip_decimal_str(c) for c in ("DEPT Code", "POSN", "SUFF"))
    df = df.withColumns(
        {
            "TS-Org Code": E.concat_key("TS COA", "TS ORG"),
            "DEPT Code": dept,
            "TS-Org Department Code": E.concat_key("TS COA", dept),
            "E-Class": E.ensure_string("ECLS DESC"),
            "Pay Event": E.concat_plain("Year", "Pay ID", "Pay #", "Seq #"),
            "POSN": posn,
            "SUFF": suff,
            "Job Number": E.concat_key(posn, suff),
            "College": E.concat_key("College Code", "College Name"),
        }
    )

    # Header typo unification (ref :256-261), tolerant of absent sources.
    df = E.rename_columns(df, {k: v for k, v in RENAME_NORMALIZE.items() if k in df.columns})

    # J1 org, J2 dept (differing key names), J3 overtime; each join's
    # fan-out counts ride the output action (report reads them).  Keep the
    # joins back to back: an observed count splits whole-stage codegen, and
    # one join's "after" count and the next one's "before" share a split.
    df = safe_merge_left(df, ts_org, "TS-Org Code", report, keep_cols=["TS-Org Code", "TS-Org Title"])
    df = safe_merge_left(
        df,
        ts_dept,
        {"TS-Org Department Code": "TS-Org Dept Code"},
        report,
        keep_cols=["TS-Org Dept Code", "TS-Org Dept Title"],
    )
    df = safe_merge_left(
        df,
        overtime,
        {"ECLS": "Job Eclass"},
        report,
        keep_cols=["Job Eclass", "Overtime FLSA"],
        rename={"Overtime FLSA": "Overtime"},
        drop_dim_keys=True,
    )

    # A1 mode lookup + J9 dict-map join + E10 fill (ref :282-299).
    te = te_m.select(E.ensure_string("TE M").alias("TE M"),
                     E.ensure_string("Time Entry Method").alias("Time Entry Method"))
    te = te.filter(F.col("TE M").isNotNull() & F.col("Time Entry Method").isNotNull())
    te_map = mode_agg(te, "TE M", "Time Entry Method", out_col="__mapped_te")
    # Dept title coalesce (ref :273-274), after J3 so the joins stay adjacent.
    dept_title = E.coalesce_cols("TS-Org Dept Title", "Department Name")
    df = df.withColumns({"TS-Org Dept Title": dept_title, "TE M": E.ensure_string("TE M")})
    df = E.ensure_column(df, "Time Entry")
    df = dict_map_join(df, te_map, "TE M", "__mapped_te")
    df = df.withColumn("Time Entry", E.keep_or_replace("Time Entry", "__mapped_te")).drop(
        "__mapped_te"
    )

    # P8 projection -> D2 keyed dedup (deterministic keep-first via ingest
    # order; ref :301-317).
    present = [c for c in SOURCE_FIELDS if c in df.columns]
    df_fin = df.select(*present, INGEST_ORDER_COL)
    missing_keys = [k for k in ("UIN", "Pay Event", "Job Number") if k not in df_fin.columns]
    for k in missing_keys:
        report.warn(f"missing key for dedupe: {k}")
    df_fin = dedup_keys_tolerant(
        df_fin, ["UIN", "Pay Event", "Job Number"], order_col=INGEST_ORDER_COL
    ).drop(INGEST_ORDER_COL)

    # E16 type normalization + E11 ADJ default (ref :319-328), one
    # projection: the ADJ pair is set from the original (trimmed) code, so
    # the desc's blankish-test never sees the defaulted 'INT'.
    norm = {c: E.ensure_string(c) for c in df_fin.columns if c != "Calc Date"}
    if "Calc Date" in df_fin.columns:
        norm["Calc Date"] = E.to_ts_coerce("Calc Date")
    if "ADJ Reason Code" in norm and "ADJ Reason DESC" in norm:
        norm["ADJ Reason Code"], norm["ADJ Reason DESC"] = E.null_blank_default(
            norm["ADJ Reason Code"], norm["ADJ Reason DESC"]
        )
    df_fin = df_fin.withColumns(norm)

    # E15 output contract with null padding (ref :330-368).  Every column
    # is already a trimmed string or the coerced Calc Date, which is all
    # the reference's final strip/cast (:370-374) does; only renames remain.
    out, padded = E.output_contract(df_fin, PUA_COL_MAP)
    if padded:
        report.missing_output_sources["pua"] = padded
    out = E.rename_columns(out, FINAL_RENAMES)
    return out, report
