"""Correctness-gate entries for the COMPOSED reference dataflows
(SURVEY.md section 3; ref etl_payroll_pipeline.py:235-380 run_pua and
:433-591 run_cpa).

The per-operator registry certifies each step in isolation; these two
entries certify the whole chains -- key derivation, dim joins, mode
fill, keep-first dedup across an explicit ingest order, output
contracts -- against a fully independent DuckDB reimplementation.

Inputs are synthesized DETERMINISTICALLY from the shared testdata
tables (orders / nation) plus tiny inline literal dims, so the Spark
side and the DuckDB oracle construct byte-identical extracts without
any scratch files:

  * payroll extract columns are arithmetic functions of
    (o_orderkey, o_custkey, o_orderdate) -- modular slots create real
    business-key duplicates (several orders per customer land on the
    same Pay Event / Job Number), null COA rows, unparseable dates,
    unmatched dim keys and no-hyphen colleges, so every guard in the
    pipelines actually fires;
  * the ingest order is the data column o_orderkey (cast to long by
    the pipelines), giving both engines the same keep-first winner;
  * dims derive from `nation` with deliberate partial coverage so left
    joins exercise both matched and unmatched paths.

Scale note: the synthesis is a single projection over the orders scan
(no shuffle added), so the gate measures the pipelines' own plan --
broadcast dim joins + one dedup shuffle -- at whatever SF the driver
picks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import INGEST_ORDER_COL
from .io import load_table, local_frame
from .pipelines.cpa import run_cpa
from .pipelines.pua import run_pua

__all__ = ["PIPE_QUERIES", "PIPE_ORACLES", "pipe_pua", "pipe_cpa"]


def _s(col):
    return col.cast("string")


# --------------------------------------------------------------------------
# PUA (ref :235-380)
# --------------------------------------------------------------------------

def _pua_inputs(spark: SparkSession, sf_dir: str):
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    ok = F.col("o_orderkey")
    ck = F.col("o_custkey")
    ecls = F.when(ck % 3 == 0, "EA").when(ck % 3 == 1, "EB").otherwise("ZZ")
    pua = o.select(
        _s(ck).alias("UIN"),
        F.when(ok % 2 == 0, "BW").otherwise("MN").alias("Pay ID"),
        _s(F.year("o_orderdate")).alias("Year"),
        _s(ok % 4).alias("Pay #"),
        F.lit("0").alias("Seq #"),
        F.when(ck % 13 == 0, F.lit(None).cast("string")).otherwise(_s(ck % 7)).alias("TS COA"),
        _s(ck % 25).alias("TS ORG"),
        F.concat(_s(ck % 10), F.lit(".0")).alias("DEPT Code"),
        F.concat(F.lit("Dept-"), _s(ck % 10)).alias("Department Name"),
        ecls.alias("ECLS"),
        F.concat(F.lit("Desc-"), ecls).alias("ECLS DESC"),
        F.when(ok % 5 == 0, F.lit(None).cast("string"))
        .when(ok % 5 <= 2, "W")
        .otherwise("B")
        .alias("TE M"),
        F.when(ok % 7 == 0, "Manual").otherwise("").alias("Time Entry"),
        F.concat(F.lit("U"), _s(ck % 50)).alias("POSN"),
        F.concat(_s(ok % 3), F.lit(".0")).alias("SUFF"),
        F.concat(F.lit("C"), _s(ck % 4)).alias("College Code"),
        F.concat(F.lit("College "), _s(ck % 4)).alias("College Name"),
        F.lit("RGS").alias("Earn Code"),
        F.lit("Regular").alias("DESCRIPTION"),
        # the typo'd source header exercises the rename-normalize step
        F.when(ok % 11 == 0, "RET").when(ok % 11 == 1, "nan").otherwise("").alias("ADj Reason Code"),
        F.when(ok % 11 == 0, "Retro").otherwise("x").alias("ADJ Reason DESC"),
        F.when(ok % 17 == 0, "garbage").otherwise(_s(F.col("o_orderdate"))).alias("Calc Date"),
        ok.alias(INGEST_ORDER_COL),
    )
    nk = F.col("n_nationkey")
    ts_org = n.select(
        F.concat(_s(nk % 7), F.lit("-"), _s(nk)).alias("TS-Org Code"),
        F.col("n_name").alias("TS-Org Title"),
    )
    ts_dept = n.select(
        F.concat(_s(nk % 7), F.lit("-"), _s(nk % 10)).alias("TS-Org Dept Code"),
        F.concat(F.lit("DeptTitle-"), _s(nk)).alias("TS-Org Dept Title"),
    )
    overtime = local_frame(
        spark,
        [("EA", "Non-Exempt"), ("EB", "Exempt")],
        "`Job Eclass` string, `Overtime FLSA` string",
    )
    te_m = local_frame(
        spark,
        [
            ("a", "W", "Web Time"),
            ("b", "W", "Web Time"),
            ("c", "W", "Alpha Method"),
            ("d", "B", "Banner"),
            ("e", None, "X"),
            ("f", "Q", None),
        ],
        "`UIN Job` string, `TE M` string, `Time Entry Method` string",
    )
    return pua, ts_org, ts_dept, overtime, te_m


def pipe_pua(spark: SparkSession, sf_dir: str) -> DataFrame:
    pua, ts_org, ts_dept, overtime, te_m = _pua_inputs(spark, sf_dir)
    out, _report = run_pua(pua, ts_org, ts_dept, overtime, te_m)
    return out


PIPE_PUA_SQL = """
WITH src AS (
  SELECT o_orderkey AS ok, o_custkey AS ck, o_orderdate AS od FROM orders
),
pua AS (
  SELECT
    CAST(ck AS STRING) AS "UIN",
    CASE WHEN ok % 2 = 0 THEN 'BW' ELSE 'MN' END AS "Pay ID",
    CAST(year(od) AS STRING) AS "Year",
    CAST(ok % 4 AS STRING) AS "Pay #",
    '0' AS "Seq #",
    CASE WHEN ck % 13 = 0 THEN NULL ELSE CAST(ck % 7 AS STRING) END AS "TS COA",
    CAST(ck % 25 AS STRING) AS "TS ORG",
    CAST(ck % 10 AS STRING) || '.0' AS "DEPT Code",
    'Dept-' || CAST(ck % 10 AS STRING) AS "Department Name",
    CASE WHEN ck % 3 = 0 THEN 'EA' WHEN ck % 3 = 1 THEN 'EB' ELSE 'ZZ' END AS "ECLS",
    'Desc-' || CASE WHEN ck % 3 = 0 THEN 'EA' WHEN ck % 3 = 1 THEN 'EB' ELSE 'ZZ' END
      AS "ECLS DESC",
    CASE WHEN ok % 5 = 0 THEN NULL WHEN ok % 5 <= 2 THEN 'W' ELSE 'B' END AS "TE M",
    CASE WHEN ok % 7 = 0 THEN 'Manual' ELSE '' END AS "Time Entry",
    'U' || CAST(ck % 50 AS STRING) AS "POSN",
    CAST(ok % 3 AS STRING) || '.0' AS "SUFF",
    'C' || CAST(ck % 4 AS STRING) AS "College Code",
    'College ' || CAST(ck % 4 AS STRING) AS "College Name",
    'RGS' AS "Earn Code",
    'Regular' AS "DESCRIPTION",
    CASE WHEN ok % 11 = 0 THEN 'RET' WHEN ok % 11 = 1 THEN 'nan' ELSE '' END
      AS "ADJ Reason Code",
    CASE WHEN ok % 11 = 0 THEN 'Retro' ELSE 'x' END AS "ADJ Reason DESC",
    CASE WHEN ok % 17 = 0 THEN 'garbage' ELSE CAST(od AS STRING) END AS "Calc Date",
    ok AS __ord
  FROM src
),
ts_org_v AS (
  SELECT CAST(n_nationkey % 7 AS STRING) || '-' || CAST(n_nationkey AS STRING)
           AS "TS-Org Code",
         n_name AS "TS-Org Title"
  FROM nation
),
ts_dept_v AS (
  SELECT CAST(n_nationkey % 7 AS STRING) || '-' || CAST(n_nationkey % 10 AS STRING)
           AS "TS-Org Dept Code",
         'DeptTitle-' || CAST(n_nationkey AS STRING) AS "TS-Org Dept Title"
  FROM nation
),
overtime_v AS (
  SELECT * FROM (VALUES ('EA', 'Non-Exempt'), ('EB', 'Exempt'))
    t("Job Eclass", "Overtime FLSA")
),
te_m_v AS (
  SELECT * FROM (VALUES
    ('a', 'W', 'Web Time'),
    ('b', 'W', 'Web Time'),
    ('c', 'W', 'Alpha Method'),
    ('d', 'B', 'Banner'),
    ('e', NULL, 'X'),
    ('f', 'Q', NULL))
    t("UIN Job", "TE M", "Time Entry Method")
),
derived AS (
  SELECT
    "UIN", "Pay ID", "Year", "Pay #", "Seq #",
    "TS COA", "TS ORG",
    "TS COA" || '-' || "TS ORG" AS "TS-Org Code",
    regexp_replace("DEPT Code", '\\.0$', '') AS "DEPT Code",
    "TS COA" || '-' || regexp_replace("DEPT Code", '\\.0$', '')
      AS "TS-Org Department Code",
    "Department Name",
    "ECLS", "ECLS DESC",
    "Year" || "Pay ID" || "Pay #" || "Seq #" AS "Pay Event",
    regexp_replace("POSN", '\\.0$', '') || '-' ||
      regexp_replace("SUFF", '\\.0$', '') AS "Job Number",
    "College Code", "College Name",
    "College Code" || '-' || "College Name" AS "College",
    "TE M", "Time Entry", "Earn Code", "DESCRIPTION",
    "ADJ Reason Code", "ADJ Reason DESC", "Calc Date",
    __ord
  FROM pua
),
te_mode AS (
  SELECT "TE M", "Time Entry Method" AS mapped FROM (
    SELECT "TE M", "Time Entry Method",
           row_number() OVER (PARTITION BY "TE M"
                              ORDER BY count(*) DESC, "Time Entry Method" ASC) AS rn
    FROM te_m_v
    WHERE "TE M" IS NOT NULL AND "Time Entry Method" IS NOT NULL
    GROUP BY "TE M", "Time Entry Method"
  ) WHERE rn = 1
),
enriched AS (
  SELECT d.*,
         o."TS-Org Title",
         COALESCE(dp."TS-Org Dept Title", d."Department Name") AS "TS-Org Dept Title",
         dp."TS-Org Dept Code",
         ot."Overtime FLSA" AS "Overtime",
         CASE WHEN d."Time Entry" IS NOT NULL AND d."Time Entry" <> ''
              THEN d."Time Entry" ELSE m.mapped END AS "Time Entry Filled"
  FROM derived d
  LEFT JOIN ts_org_v o ON d."TS-Org Code" = o."TS-Org Code"
  LEFT JOIN ts_dept_v dp ON d."TS-Org Department Code" = dp."TS-Org Dept Code"
  LEFT JOIN (SELECT DISTINCT "Job Eclass", "Overtime FLSA" FROM overtime_v) ot
         ON d."ECLS" = ot."Job Eclass"
  LEFT JOIN te_mode m ON d."TE M" = m."TE M"
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY "UIN", "Pay Event", "Job Number" ORDER BY __ord) AS __rn
    FROM enriched
  ) WHERE __rn = 1
),
defaulted AS (
  SELECT *,
    CASE WHEN "ADJ Reason Code" IS NULL
           OR TRIM("ADJ Reason Code") IN ('', 'nan', 'NaN')
         THEN 'INT' ELSE "ADJ Reason Code" END AS adj_code_f,
    CASE WHEN "ADJ Reason Code" IS NULL
           OR TRIM("ADJ Reason Code") IN ('', 'nan', 'NaN')
         THEN 'Internal' ELSE "ADJ Reason DESC" END AS adj_desc_f
  FROM deduped
)
SELECT
  "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number",
  "College Code", "College Name", "College",
  "TS COA", "TS ORG",
  "TS-Org Code", "TS-Org Title",
  "DEPT Code" AS "Dept Code", "TS-Org Dept Code", "TS-Org Dept Title",
  "ECLS" AS "E-Class Code", "ECLS DESC" AS "E-Class",
  "TE M", "Time Entry Filled" AS "Time Entry", "Overtime",
  "Earn Code", "DESCRIPTION" AS "Earn Code Description",
  adj_code_f AS "Adjustment Reason Code",
  adj_desc_f AS "Adjustment Reason Description",
  TRY_CAST("Calc Date" AS TIMESTAMP) AS "Calc Date"
FROM defaulted
"""


# --------------------------------------------------------------------------
# CPA (ref :433-591)
# --------------------------------------------------------------------------

CPA_FY_END_YEAR = 1995  # FY 1994-07-01 .. 1995-06-30 over the 1992-1998 order dates


def _cpa_inputs(spark: SparkSession, sf_dir: str):
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    ok = F.col("o_orderkey")
    ck = F.col("o_custkey")
    cert = o.select(
        _s(ck).alias("UIN"),
        _s(F.year("o_orderdate")).alias("PAY_YEAR"),
        F.when(ok % 2 == 0, "BW").otherwise("MN").alias("PAY_ID"),
        _s(ok % 4).alias("PAY_NBR"),
        F.lit("0").alias("PAY_SEQ"),
        F.when(ok % 19 == 0, "not a date").otherwise(_s(F.col("o_orderdate"))).alias(
            "TRAN_CREATE_DT"
        ),
        F.concat(F.lit("U"), _s(ck % 50), F.lit("-"), _s(ok % 3)).alias("JOB"),
        F.when(ck % 13 == 0, F.lit(None).cast("string")).otherwise(_s(ck % 7)).alias(
            "JOB_TS_COAS"
        ),
        _s(ck % 25 + 602000).alias("JOB_TS_ORGN"),
        F.when(ck % 3 == 0, "EA").when(ck % 3 == 1, "EB").otherwise("ZZ").alias("JOB_ECLS"),
        F.when(ck % 5 == 0, F.lit("NOHYPHEN"))
        .otherwise(F.concat(F.lit("C"), _s(ck % 4), F.lit("-College "), _s(ck % 4)))
        .alias("COLLEGE"),
        F.when(ok % 3 == 0, "3 - Apply").otherwise("1 - Review").alias("ACTION"),
        ok.alias(INGEST_ORDER_COL),
    )
    cert_bw = cert.filter(ok % 2 == 0)
    cert_mn = cert.filter(ok % 2 == 1)
    nk = F.col("n_nationkey")
    ts_org = n.select(
        F.concat(_s(nk % 7), F.lit("-"), _s(nk + 602000)).alias("TS-Org Code"),
        F.col("n_name").alias("TS-Org Title"),
    )
    # dept key = 5-char prefix of "coa-602xxx" = "coa-602"[:5]; cover
    # coas 0-4 only so 5/6 exercise the unmatched path
    ts_dept = n.filter(nk < 5).select(
        F.concat(_s(nk), F.lit("-602")).alias("TS-Org Dept Code"),
        F.concat(F.lit("Dept "), F.col("n_name")).alias("TS-Org Dept Title"),
    )
    overtime = local_frame(
        spark,
        [
            ("EA", "BW", "Non-Exempt", "Academic"),
            ("EA", "MN", "NE-Monthly", "Academic-M"),
            ("EB", "BW", "Exempt", "Monthly-B"),
            ("EB", "MN", "Exempt", "Monthly"),
        ],
        "`Job Eclass` string, `Pay ID` string, `Overtime FLSA` string,"
        " `Job Detail E-Class Long Desc` string",
    )
    te_m = o.filter(ok % 6 == 0).select(
        F.concat(_s(ck), F.lit("-U"), _s(ck % 50), F.lit("-"), _s(ok % 3)).alias("UIN Job"),
        F.when(ck % 2 == 0, "W").otherwise("B").alias("TE M"),
        F.when(ck % 11 == 0, "Alpha")
        .when(ck % 2 == 0, "Web Time")
        .otherwise("Banner")
        .alias("Time Entry Method"),
        F.lit("T").alias("Time Entry Type"),
    )
    return cert_bw, cert_mn, ts_org, ts_dept, overtime, te_m


def pipe_cpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    cert_bw, cert_mn, ts_org, ts_dept, overtime, te_m = _cpa_inputs(spark, sf_dir)
    out, _report = run_cpa(
        cert_bw, cert_mn, ts_org, ts_dept, overtime, te_m, fy_end_year=CPA_FY_END_YEAR
    )
    return out


PIPE_CPA_SQL = """
WITH src AS (
  SELECT o_orderkey AS ok, o_custkey AS ck, o_orderdate AS od FROM orders
),
cert AS (
  SELECT
    CAST(ck AS STRING) AS UIN,
    CAST(year(od) AS STRING) AS PAY_YEAR,
    CASE WHEN ok % 2 = 0 THEN 'BW' ELSE 'MN' END AS PAY_ID,
    CAST(ok % 4 AS STRING) AS PAY_NBR,
    '0' AS PAY_SEQ,
    CASE WHEN ok % 19 = 0 THEN 'not a date' ELSE CAST(od AS STRING) END
      AS TRAN_CREATE_DT,
    'U' || CAST(ck % 50 AS STRING) || '-' || CAST(ok % 3 AS STRING) AS JOB,
    CASE WHEN ck % 13 = 0 THEN NULL ELSE CAST(ck % 7 AS STRING) END AS JOB_TS_COAS,
    CAST(ck % 25 + 602000 AS STRING) AS JOB_TS_ORGN,
    CASE WHEN ck % 3 = 0 THEN 'EA' WHEN ck % 3 = 1 THEN 'EB' ELSE 'ZZ' END AS JOB_ECLS,
    CASE WHEN ck % 5 = 0 THEN 'NOHYPHEN'
         ELSE 'C' || CAST(ck % 4 AS STRING) || '-College ' || CAST(ck % 4 AS STRING)
         END AS COLLEGE,
    CASE WHEN ok % 3 = 0 THEN '3 - Apply' ELSE '1 - Review' END AS ACTION,
    ok % 2 AS src, ok AS ord
  FROM src
),
ts_org_v AS (
  SELECT CAST(n_nationkey % 7 AS STRING) || '-' ||
           CAST(n_nationkey + 602000 AS STRING) AS "TS-Org Code",
         n_name AS "TS-Org Title"
  FROM nation
),
ts_dept_v AS (
  SELECT CAST(n_nationkey AS STRING) || '-602' AS "TS-Org Dept Code",
         'Dept ' || n_name AS "TS-Org Dept Title"
  FROM nation WHERE n_nationkey < 5
),
overtime_v AS (
  SELECT * FROM (VALUES
    ('EA', 'BW', 'Non-Exempt', 'Academic'),
    ('EA', 'MN', 'NE-Monthly', 'Academic-M'),
    ('EB', 'BW', 'Exempt', 'Monthly-B'),
    ('EB', 'MN', 'Exempt', 'Monthly'))
    t("Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc")
),
te_m_v AS (
  SELECT CAST(ck AS STRING) || '-U' || CAST(ck % 50 AS STRING) || '-' ||
           CAST(ok % 3 AS STRING) AS "UIN Job",
         CASE WHEN ck % 2 = 0 THEN 'W' ELSE 'B' END AS "TE M",
         CASE WHEN ck % 11 = 0 THEN 'Alpha'
              WHEN ck % 2 = 0 THEN 'Web Time'
              ELSE 'Banner' END AS "Time Entry Method",
         'T' AS "Time Entry Type"
  FROM src WHERE ok % 6 = 0
),
fy AS (
  SELECT * FROM (SELECT *, TRY_CAST(TRAN_CREATE_DT AS TIMESTAMP) AS tcd FROM cert)
  WHERE tcd BETWEEN TIMESTAMP '1994-07-01 00:00:00'
                AND TIMESTAMP '1995-06-30 23:59:59.999999'
),
derived AS (
  SELECT
    UIN AS "UIN", PAY_ID AS "PAY_ID", PAY_YEAR AS "PAY_YEAR",
    PAY_NBR AS "PAY_NBR", PAY_SEQ AS "PAY_SEQ",
    JOB AS "JOB", JOB_TS_COAS AS "JOB_TS_COAS",
    JOB_TS_ORGN AS "JOB_TS_ORGN", JOB_ECLS AS "JOB_ECLS",
    COLLEGE AS "COLLEGE", ACTION AS "ACTION",
    JOB_TS_COAS || '-' || JOB_TS_ORGN AS "TS-Org Code",
    substr(JOB_TS_COAS || '-' || JOB_TS_ORGN, 1, 5) AS "Dept TS-Org",
    UIN || '-' || JOB AS "UIN Job",
    src, ord
  FROM fy
),
te_mode AS (
  SELECT "TE M", "Time Entry Method" AS mapped FROM (
    SELECT "TE M", "Time Entry Method",
           row_number() OVER (PARTITION BY "TE M"
                              ORDER BY count(*) DESC, "Time Entry Method" ASC) AS rn
    FROM te_m_v WHERE "TE M" IS NOT NULL AND "Time Entry Method" IS NOT NULL
    GROUP BY "TE M", "Time Entry Method"
  ) WHERE rn = 1
),
enriched AS (
  SELECT d.*,
         o."TS-Org Title" AS "TS-Org Title",
         dp."TS-Org Dept Code", dp."TS-Org Dept Title",
         te."TE M",
         m.mapped AS "Time Entry",
         ot."Overtime FLSA" AS "Overtime",
         ot."Job Detail E-Class Long Desc" AS "EClassDesc"
  FROM derived d
  LEFT JOIN ts_org_v o ON d."TS-Org Code" = o."TS-Org Code"
  LEFT JOIN ts_dept_v dp ON d."Dept TS-Org" = dp."TS-Org Dept Code"
  LEFT JOIN (SELECT DISTINCT "UIN Job", "TE M" FROM te_m_v) te
         ON d."UIN Job" = te."UIN Job"
  LEFT JOIN te_mode m ON te."TE M" = m."TE M"
  LEFT JOIN (SELECT DISTINCT "Job Eclass", "Pay ID", "Overtime FLSA",
                    "Job Detail E-Class Long Desc" FROM overtime_v) ot
         ON d."JOB_ECLS" = ot."Job Eclass" AND d."PAY_ID" = ot."Pay ID"
),
applied AS (SELECT * FROM enriched WHERE "ACTION" = '3 - Apply'),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY "UIN Job" ORDER BY src, ord) AS rn
    FROM applied
  ) WHERE rn = 1
)
SELECT
  "UIN",
  "PAY_ID" AS "Pay ID",
  "PAY_YEAR" AS "Year",
  "PAY_NBR" AS "Pay #",
  "PAY_SEQ" AS "Seq #",
  "JOB" AS "Job Number",
  CASE WHEN strpos("COLLEGE", '-') > 0
       THEN TRIM(substr("COLLEGE", 1, strpos("COLLEGE", '-') - 1))
       ELSE TRIM("COLLEGE") END AS "College Code",
  CASE WHEN strpos("COLLEGE", '-') > 0
       THEN TRIM(substr("COLLEGE", strpos("COLLEGE", '-') + 1))
       ELSE '' END AS "College Name",
  "COLLEGE" AS "College",
  "JOB_TS_COAS" AS "TS COA",
  "JOB_TS_ORGN" AS "TS Org",
  "TS-Org Code",
  "TS-Org Title",
  "TS-Org Dept Code",
  "TS-Org Dept Title",
  "JOB_ECLS" AS "E-Class Code",
  "EClassDesc" AS "E-Class",
  "TE M",
  "Time Entry",
  "Overtime"
FROM kept
"""


PIPE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pipe_pua": pipe_pua,
    "pipe_cpa": pipe_cpa,
}

PIPE_ORACLES: dict[str, str] = {
    "pipe_pua": PIPE_PUA_SQL,
    "pipe_cpa": PIPE_CPA_SQL,
}


def pipe_governance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed governance chain: quarantine-lane JSON parse (e21) ->
    keyed PII pseudonymization (e22) -> per-type release summary.
    Quarantined rows never contribute a token; the summary certifies
    that bad payloads were ROUTED (counted) rather than dropped or
    allowed to poison the load, and that the published distinct-user
    counts are computed over tokens, not raw ids."""
    from .expressions import pseudonymize

    ev = load_table(spark, sf_dir, "events")
    p = F.when(
        F.col("event_id") % 17 == 0, F.substring("props", 1, 4)
    ).otherwise(F.col("props"))
    parsed = F.from_json(
        p, "k int, _corrupt string", {"columnNameOfCorruptRecord": "_corrupt"}
    )
    bad = parsed.getField("_corrupt").isNotNull()
    tagged = ev.select(
        "event_type",
        bad.alias("__q"),
        pseudonymize(F.col("user_id"), "gov-2024").alias("__tok"),
    )
    return tagged.groupBy("event_type").agg(
        F.sum(F.when(~F.col("__q"), 1).otherwise(0)).cast("long").alias("n_ok"),
        F.sum(F.when(F.col("__q"), 1).otherwise(0)).cast("long").alias("n_quarantined"),
        F.count_distinct(F.when(~F.col("__q"), F.col("__tok")))
        .cast("long")
        .alias("n_tokens"),
    )


PIPE_GOVERNANCE_SQL = """
    WITH src AS (
      SELECT event_type,
             CASE WHEN event_id % 17 = 0 THEN substring(props, 1, 4)
                  ELSE props END AS p,
             sha256('gov-2024' || CAST(user_id AS VARCHAR)) AS tok
      FROM events
    ), tagged AS (
      SELECT event_type, try_cast(p AS JSON) IS NULL AS q, tok FROM src
    )
    SELECT event_type,
           CAST(sum(CASE WHEN NOT q THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
           CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
           CAST(count(DISTINCT CASE WHEN NOT q THEN tok END) AS BIGINT) AS n_tokens
    FROM tagged GROUP BY event_type
"""

PIPE_QUERIES["pipe_governance"] = pipe_governance
PIPE_ORACLES["pipe_governance"] = PIPE_GOVERNANCE_SQL
