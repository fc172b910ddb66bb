"""Correctness-gate registry: one named query per SURVEY.md section 2
operator, each paired with an ANSI-SQL DuckDB oracle over the same
parquet tables (TESTDATA.md).

Conventions (driver contract, __spark_entry__.py):
  * every computed column is aliased IDENTICALLY in Spark and SQL;
  * results are deterministic: no arbitrary-row picks, all rankings
    totally ordered, float aggregation routed through DECIMAL (exact,
    order-independent) and surfaced as double;
  * counts/sizes are cast to long (DuckDB count/len are BIGINT);
  * everything is ANSI-mode-safe (try_* variants) because the driver's
    SparkSession config is not ours to set.
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import expressions as E
from . import predicates as P
from .aggregates import min_max, mode_agg
from .catalog import build_catalog, stamped_name
from .dedup import dedup_full, dedup_keys_tolerant, keep_first
from .io import load_table, read_csv, write_csv_single
from .joins import broadcast_left_join, dict_map_join, safe_merge_left
from .report import RunReport, check_schema, table_counts
from .setops import except_rows, intersect_rows, union_by_name

SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".scratch")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Flagship (entry): catalog-style filter + broadcast joins + concat key +
# keyed dedup + null-default over orders ⟕ customer ⟕ nation
# (exercises P3/P6, J1/J2, E4, D2, E11 in one plan; SURVEY.md section 7.2 M0).
# --------------------------------------------------------------------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    df = orders.filter(
        P.in_list("o_orderpriority", ["1-URGENT", "2-HIGH"])
        & P.between_dates("o_orderdate", "1995-07-01 00:00:00", "1996-06-30 23:59:59.999999")
    )
    df = broadcast_left_join(
        df, customer, {"o_custkey": "c_custkey"},
        keep_cols=["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
    )
    df = broadcast_left_join(
        df, nation, {"c_nationkey": "n_nationkey"}, keep_cols=["n_nationkey", "n_name"]
    )
    df = df.withColumn(
        "order_key_id",
        E.concat_key(E.ensure_string("o_orderkey"), E.ensure_string("o_custkey")),
    )
    df = keep_first(df, ["o_custkey"], F.col("o_orderkey"))
    seg = F.when(E.is_blankish(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))), F.lit("INT")).otherwise(
        F.col("c_mktsegment")
    )
    return df.select(
        "o_orderkey", "o_custkey", "order_key_id", "c_name", "n_name",
        seg.alias("segment_coded"), "o_orderdate",
    )


FLAGSHIP_SQL = """
WITH filtered AS (
  SELECT * FROM orders
  WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
    AND o_orderdate BETWEEN TIMESTAMP '1995-07-01 00:00:00'
                        AND TIMESTAMP '1996-06-30 23:59:59.999999'
), joined AS (
  SELECT f.*, c.c_name, c.c_nationkey, c.c_mktsegment, n.n_name,
         ROW_NUMBER() OVER (PARTITION BY f.o_custkey ORDER BY f.o_orderkey) AS rn
  FROM filtered f
  LEFT JOIN (SELECT DISTINCT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer) c
    ON f.o_custkey = c.c_custkey
  LEFT JOIN (SELECT DISTINCT n_nationkey, n_name FROM nation) n
    ON c.c_nationkey = n.n_nationkey
)
SELECT o_orderkey, o_custkey,
       TRIM(CAST(o_orderkey AS VARCHAR)) || '-' || TRIM(CAST(o_custkey AS VARCHAR)) AS order_key_id,
       c_name, n_name,
       CASE WHEN NULLIF(c_mktsegment,'BUILDING') IS NULL
              OR TRIM(CAST(NULLIF(c_mktsegment,'BUILDING') AS VARCHAR)) IN ('','nan','NaN')
            THEN 'INT' ELSE c_mktsegment END AS segment_coded,
       o_orderdate
FROM joined WHERE rn = 1
"""


# --------------------------------------------------------------------------
# P1-P10 predicates / projections
# --------------------------------------------------------------------------

def p1(spark, sf):
    return _t(spark, sf, "part").filter(P.contains_ci("p_type", "ECoNo")).select("p_partkey", "p_type")


def p2(spark, sf):
    return _t(spark, sf, "part").filter(P.rlike_bounded("p_name", "red")).select("p_partkey", "p_name")


def p3(spark, sf):
    return (
        _t(spark, sf, "orders")
        .filter(P.in_list("o_orderpriority", ["1-URGENT", "2-HIGH"]))
        .select("o_orderkey", "o_orderpriority")
    )


def p4(spark, sf):
    return _t(spark, sf, "nation").filter(P.eq_ci("n_name", "NaTion_7")).select("n_nationkey", "n_name")


def p5(spark, sf):
    df = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return P.first_match(df, ["c_name", "c_custkey"]).select("c_custkey", "c_name")


def p6(spark, sf):
    return (
        _t(spark, sf, "orders")
        .filter(P.between_dates("o_orderdate", *P.fiscal_year_bounds(1996)))
        .select("o_orderkey", "o_orderdate")
    )


def p7(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_returnflag")
    )


def p8(spark, sf):
    return P.project(_t(spark, sf, "customer"), ["c_mktsegment", "c_custkey", "c_name", "not_a_col"])


def p9(spark, sf):
    return P.drop_tolerant(_t(spark, sf, "part"), "p_brand", "no_such_column")


def p10(spark, sf):
    n = _t(spark, sf, "nation")
    dup = n.select(F.col("n_nationkey"), F.col("n_name").alias("dup"), F.col("n_regionkey").alias("dup"))
    return P.resolve_duplicate_columns(dup)


# --------------------------------------------------------------------------
# J1-J9 joins
# --------------------------------------------------------------------------

def j1(spark, sf):
    orders = _t(spark, sf, "orders")
    dim = _t(spark, sf, "customer").select(F.col("c_custkey").alias("o_custkey"), "c_name")
    return broadcast_left_join(orders, dim, "o_custkey").select("o_orderkey", "o_custkey", "c_name")


def j2(spark, sf):
    cust = _t(spark, sf, "customer")
    out = broadcast_left_join(
        cust, _t(spark, sf, "nation"), {"c_nationkey": "n_nationkey"},
        keep_cols=["n_nationkey", "n_name"],
    )
    return out.select("c_custkey", "c_name", "n_name")


def j3(spark, sf):
    supp = _t(spark, sf, "supplier")
    out = broadcast_left_join(
        supp, _t(spark, sf, "nation"), {"s_nationkey": "n_nationkey"},
        keep_cols=["n_nationkey", "n_name"], rename={"n_name": "supp_nation"}, drop_dim_keys=True,
    )
    return out.select("s_suppkey", "s_name", "supp_nation")


def j4(spark, sf):
    nat = _t(spark, sf, "nation")
    out = safe_merge_left(
        nat, _t(spark, sf, "region"), {"n_regionkey": "r_regionkey"}, RunReport(),
        keep_cols=["r_regionkey", "r_name"],
    )
    return out.select("n_nationkey", "n_name", "r_name")


def j5(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = broadcast_left_join(
        li, _t(spark, sf, "part"), {"l_partkey": "p_partkey"}, keep_cols=["p_partkey", "p_brand"]
    )
    return out.select("l_orderkey", "l_linenumber", "p_brand")


def j6(spark, sf):
    li = _t(spark, sf, "lineitem")
    out = broadcast_left_join(
        li, _t(spark, sf, "supplier"), {"l_suppkey": "s_suppkey"}, keep_cols=["s_suppkey", "s_name"]
    )
    return out.select("l_orderkey", "l_linenumber", "s_name")


def j7(spark, sf):
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderstatus"
    )
    return li.join(orders, "l_orderkey", "left").select(
        "l_orderkey", "l_linenumber", "o_orderdate", "o_orderstatus"
    )


def j8(spark, sf):
    ev = _t(spark, sf, "events")
    dim = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("grp_n"))
    out = broadcast_left_join(ev, dim, ["user_id", "event_type"], dedup_dim=False)
    return out.select("event_id", "user_id", "event_type", "grp_n")


def j9(spark, sf):
    ev = _t(spark, sf, "events")
    lookup = mode_agg(ev, "user_id", "event_type", out_col="modal_type")
    return dict_map_join(ev, lookup, "user_id", "modal_type").select(
        "event_id", "user_id", "modal_type"
    )


# --------------------------------------------------------------------------
# A1-A3 aggregates
# --------------------------------------------------------------------------

def a1(spark, sf):
    return mode_agg(_t(spark, sf, "events"), "user_id", "event_type", out_col="mode_event_type")


def a2(spark, sf):
    return min_max(_t(spark, sf, "orders"), "o_orderdate")


def a3(spark, sf):
    return _t(spark, sf, "lineitem").groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_rows"))


# --------------------------------------------------------------------------
# D1-D4 dedup
# --------------------------------------------------------------------------

def d1(spark, sf):
    return dedup_full(_t(spark, sf, "customer").select("c_mktsegment", "c_nationkey"))


def d2(spark, sf):
    orders = _t(spark, sf, "orders")
    return dedup_keys_tolerant(orders, ["o_custkey"], order_col=F.col("o_orderkey")).select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )


def d3(spark, sf):
    return dedup_full(_t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus"))


def d4(spark, sf):
    # (l_orderkey, l_linenumber) is not unique in the synthetic data, so
    # "first" needs a TOTAL order -- extend the tie-break until unique.
    li = _t(spark, sf, "lineitem")
    return keep_first(
        li, ["l_orderkey"], [F.col("l_linenumber"), F.col("l_partkey"), F.col("l_suppkey")]
    ).select("l_orderkey", "l_linenumber", "l_partkey")


# --------------------------------------------------------------------------
# E1-E16 scalar expressions
# --------------------------------------------------------------------------

def e1(spark, sf):
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    messy = li.toDF(" l_orderkey ", "\tl_linenumber ")
    return E.clean_headers(messy)


def e2(spark, sf):
    return _t(spark, sf, "part").select(
        "p_partkey", E.ensure_string("p_size").alias("p_size_str")
    )


def e3(spark, sf):
    excelish = F.concat(F.col("p_partkey").cast("string"), F.lit(".0"))
    return _t(spark, sf, "part").select(
        "p_partkey", E.strip_decimal_str(excelish).alias("code")
    )


def e4(spark, sf):
    return _t(spark, sf, "orders").select(
        "o_orderkey",
        E.concat_key(
            E.ensure_string("o_orderkey"), F.nullif(F.col("o_orderstatus"), F.lit("O"))
        ).alias("key"),
    )


def e5(spark, sf):
    return _t(spark, sf, "orders").select(
        "o_orderkey",
        E.concat_plain(
            F.year("o_orderdate").cast("string"), F.col("o_orderpriority")
        ).alias("pay_event"),
    )


def e6(spark, sf):
    return _t(spark, sf, "part").select("p_partkey", E.prefix("p_type", 5).alias("type_prefix"))


def e7(spark, sf):
    pri_head, pri_tail = E.split_first("o_orderpriority")
    st_head, st_tail = E.split_first("o_orderstatus")  # no hyphen -> guard path
    return _t(spark, sf, "orders").select(
        "o_orderkey",
        pri_head.alias("priority_code"),
        pri_tail.alias("priority_name"),
        st_head.alias("status_code"),
        st_tail.alias("status_name"),
    )


def e8(spark, sf):
    raw = F.when(F.col("l_linenumber") == 1, F.lit("not-a-date")).otherwise(
        F.col("l_shipdate").cast("string")
    )
    return _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", E.to_ts_coerce(raw).alias("parsed_ts")
    )


def e9(spark, sf):
    return _t(spark, sf, "customer").select(
        "c_custkey",
        E.coalesce_cols(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.col("c_name")).alias(
            "seg_or_name"
        ),
    )


def e10(spark, sf):
    return _t(spark, sf, "events").select(
        "event_id",
        E.keep_or_replace(F.nullif(F.col("event_type"), F.lit("view")), F.lit("REPLACED")).alias(
            "kept"
        ),
    )


def e11(spark, sf):
    code, desc = E.null_blank_default(
        F.nullif(F.col("o_orderstatus"), F.lit("O")), F.col("o_orderpriority")
    )
    return _t(spark, sf, "orders").select(
        "o_orderkey", code.alias("adj_code"), desc.alias("adj_desc")
    )


def e12(spark, sf):
    return E.ensure_column(_t(spark, sf, "region"), "time_entry")


def e13(spark, sf):
    return E.rename_columns(
        _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus"),
        {"o_orderkey": "order_id", "o_orderstatus": "status"},
    )


def e14(spark, sf):
    padded = _t(spark, sf, "customer").select(
        "c_custkey", F.concat(F.lit("  "), F.col("c_name"), F.lit("\t ")).alias("c_name")
    )
    return E.strip_all_strings(padded)


def e15(spark, sf):
    src = _t(spark, sf, "orders").select(
        E.ensure_string("o_orderkey").alias("o_orderkey_s"), "o_orderpriority"
    )
    out, _missing = E.output_contract(
        src, {"order_key": "o_orderkey_s", "priority": "o_orderpriority", "missing_thing": None}
    )
    return out


def e16(spark, sf):
    src = _t(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", F.col("o_orderdate").alias("calc_date")
    )
    return E.finalize_output(src, date_cols=["calc_date"])


# --------------------------------------------------------------------------
# U1 / V1-V4 / S2,S4,S5,S7
# --------------------------------------------------------------------------

def u1(spark, sf):
    cust = _t(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.col("c_acctbal").alias("acctbal"), F.col("c_mktsegment")
    )
    supp = _t(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.col("s_acctbal").alias("acctbal")
    )
    return union_by_name(cust, supp)


def v1(spark, sf):
    nat = _t(spark, sf, "nation")
    out = safe_merge_left(
        nat, _t(spark, sf, "region"), {"n_regionkey": "r_regionkey"}, RunReport(),
        keep_cols=["r_regionkey", "r_name"],
    )
    return out.select("n_nationkey", "r_name")


def v2(spark, sf):
    cust = _t(spark, sf, "customer")
    expected = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    assert check_schema(cust, expected)
    return cust


def v3(spark, sf):
    import warnings as _w

    orders = _t(spark, sf, "orders")
    with _w.catch_warnings():
        _w.simplefilter("ignore")  # the warning IS the operator; result below
        out = dedup_keys_tolerant(
            orders, ["o_custkey", "no_such_key"], order_col=F.col("o_orderkey")
        )
    return out.select("o_custkey", "o_orderkey")


def v4(spark, sf):
    tables = {name: _t(spark, sf, name) for name in ("region", "nation", "customer", "supplier")}
    return table_counts(spark, tables)


def s2(spark, sf):
    cat = build_catalog(spark, sf)
    return cat.select("file_name", "extension").orderBy("file_name")


def s4(spark, sf):
    os.makedirs(SCRATCH, exist_ok=True)
    path = os.path.join(SCRATCH, "nation_roundtrip.csv")
    write_csv_single(_t(spark, sf, "nation"), path)
    return read_csv(spark, path, schema="n_nationkey int, n_name string, n_regionkey int")


def s5(spark, sf):
    os.makedirs(SCRATCH, exist_ok=True)
    path = os.path.join(SCRATCH, "customer_sink.csv")
    write_csv_single(_t(spark, sf, "customer").select("c_custkey", "c_name"), path)
    return read_csv(spark, path, schema="c_custkey bigint, c_name string")


def s3_excel_roundtrip(spark, sf):
    """S3/S6 -- nation projection -> stdlib xlsx sink -> stdlib xlsx
    scan.  The oracle reads the same projection from parquet (all cast
    to string, the xlsx contract type), so the roundtrip must be
    lossless including the null-region comment and special characters.
    Write-once marker as s11: rewrites would invalidate earlier frames."""
    import hashlib

    from .io import read_excel_stdlib, write_excel

    src = os.path.join(sf, "nation.parquet")
    try:
        st = os.stat(src)
        sig = f"{src}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        sig = src
    tag = hashlib.md5(sig.encode()).hexdigest()[:12]
    os.makedirs(SCRATCH, exist_ok=True)
    path = os.path.join(SCRATCH, f"nation_{tag}.xlsx")
    if not os.path.exists(path):
        frame = _t(spark, sf, "nation").select(
            F.col("n_nationkey").cast("string").alias("nationkey"),
            F.col("n_name").alias("name"),
            F.col("n_regionkey").cast("string").alias("regionkey"),
        )
        write_excel(frame, path)
    return read_excel_stdlib(spark, path)


def s23_xlsx_source(spark, sf):
    """S3 at folder scale -- the `xlsx` Python Data Source
    (datasources.py): a folder of three workbooks scanned DISTRIBUTED
    (one InputPartition per file, stdlib parse kernel executor-side).
    Oracle reads the same projection from parquet cast to string; the
    multi-file scan must union losslessly."""
    import hashlib

    from .datasources import register_xlsx_source
    from .io import write_excel

    register_xlsx_source(spark)
    src = os.path.join(sf, "nation.parquet")
    try:
        st = os.stat(src)
        sig = f"{src}|{st.st_mtime_ns}|{st.st_size}|v1"
    except OSError:
        sig = src
    tag = hashlib.md5(sig.encode()).hexdigest()[:12]
    folder = os.path.join(SCRATCH, f"nation_books_{tag}")
    marker = os.path.join(folder, "_done")
    if not os.path.exists(marker):
        os.makedirs(folder, exist_ok=True)
        frame = _t(spark, sf, "nation").select(
            F.col("n_nationkey").cast("string").alias("nationkey"),
            F.col("n_name").alias("name"),
            F.col("n_regionkey").cast("string").alias("regionkey"),
        )
        rows = frame.collect()
        for i in range(3):  # three workbooks, interleaved rows
            part = spark.createDataFrame(rows[i::3], frame.schema)
            write_excel(part, os.path.join(folder, f"book{i}.xlsx"))
        with open(marker, "w") as f:
            f.write("ok")
    return spark.read.format("xlsx").load(os.path.join(folder, "*.xlsx"))


def e24_variant_json(spark, sf):
    """Semi-structured analytics through Spark 4's VARIANT type: parse
    events.props (a JSON string) with parse_json, extract the typed
    path with variant_get, aggregate per event_type.  The shredded-JSON
    path a 100 TB event lake uses instead of per-query string regex;
    oracle is DuckDB's json_extract on the same strings."""
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("__v", F.parse_json(F.col("props")))
        .withColumn("k", F.variant_get(F.col("__v"), "$.k", "int"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def s7(spark, sf):
    from datetime import datetime

    name = stamped_name("PUA_Data_Transformed", "csv", datetime(2026, 1, 15, 12, 34))
    return spark.createDataFrame([(name,)], "file_name string")


def s11_orc_roundtrip(spark, sf):
    """documents -> ORC sink -> ORC scan -> projection; the oracle reads
    the same rows from parquet, so the roundtrip must be lossless.
    Write-once marker: a rewrite would invalidate DataFrames returned by
    earlier invocations of this query."""
    import hashlib
    import tempfile

    from .io import read_orc, write_orc

    src = os.path.join(sf, "documents.parquet")
    try:
        st = os.stat(src)
        sig = f"{src}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        sig = src
    tag = hashlib.md5(sig.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_docs_orc_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_orc(_t(spark, sf, "documents").select("doc_id", "lang", "n_chars"), path)
    return read_orc(spark, path)


def _tagged_dir(sf: str, table: str, kind: str) -> str:
    """Write-once scratch dir keyed on the source parquet's identity
    (path + mtime + size), same discipline as s11_orc_roundtrip: a
    test-data regeneration yields a fresh tag, while repeat invocations
    within one data generation reuse the materialized dir and keep
    DataFrames returned by earlier invocations valid."""
    import hashlib
    import tempfile

    src = os.path.join(sf, f"{table}.parquet")
    try:
        st = os.stat(src)
        sig = f"{src}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        sig = src
    tag = hashlib.md5(sig.encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}_{tag}")


def s13_partition_prune(spark, sf):
    """S-family -- Hive-layout partitioned sink (io.write_partitioned)
    + partition-pruned scan.  events is written once partitioned by
    event_type (`path/event_type=click/...`); the read filters on the
    partition column, so planning keeps only the two matching
    directories (PartitionFilters in the scan -- asserted by
    tests/test_joins_dedup_agg.py::test_write_partitioned_prunes) and
    the pruned values cost zero I/O.  Exact long aggregates keep the
    oracle hash float-free."""
    from .io import write_partitioned

    path = _tagged_dir(sf, "events", "events_part")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_partitioned(_t(spark, sf, "events"), path, ["event_type"])
    ev = spark.read.parquet(path).filter(F.col("event_type").isin("click", "purchase"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


def s16_time_travel(spark, sf):
    """S-family -- versioned snapshot store (io.write_version /
    read_version).  Two snapshots publish write-once per data
    generation: v1 = the 'en' slice of documents, v2 = all documents.
    The gate reads BOTH pinned versions after v2 exists and returns
    their per-lang profiles side by side -- certifying that publishing
    v2 did not disturb v1 (time travel / consistent pinned reads) and
    that latest == v2.  Commit visibility rides the parquet _SUCCESS
    marker; half-written snapshots are invisible to list_versions."""
    from .io import read_version, write_version

    root = _tagged_dir(sf, "documents", "docs_versions")
    from .io import list_versions

    if len(list_versions(root)) < 2:
        d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
        write_version(d.filter(F.col("lang") == "en"), root)
        write_version(d, root)
    v1 = read_version(spark, root, 1)
    v2 = read_version(spark, root)  # latest
    prof1 = v1.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    ).withColumn("version", F.lit(1).cast("int"))
    prof2 = v2.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    ).withColumn("version", F.lit(2).cast("int"))
    return prof1.unionByName(prof2).select("version", "lang", "n_docs", "n_chars")


def s21_incremental_ingest(spark, sf):
    """S-family -- manifest-based incremental file ingest
    (io.read_incremental / commit_ingest).  Write-once staging lands
    batch1 (doc_id%3 in {0,1}) and COMMITS it, then lands batch2
    (doc_id%3 == 2) uncommitted; every invocation's ingest must return
    exactly the batch2 rows -- the already-committed files stay
    invisible, certifying delta-only discovery.  The second ingest is
    deliberately never committed so the gate is invocation-idempotent."""
    from .io import commit_ingest, read_incremental

    root = _tagged_dir(sf, "documents", "docs_incr")
    src = os.path.join(root, "src")
    manifest = os.path.join(root, "manifest")
    done = os.path.join(root, "_staged")
    if not os.path.exists(done):
        d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
        d.filter(F.col("doc_id") % 3 < 2).write.mode("overwrite").parquet(
            os.path.join(src, "batch1")
        )
        _, files1 = read_incremental(spark, src, manifest)
        commit_ingest(spark, manifest, files1)
        d.filter(F.col("doc_id") % 3 == 2).write.mode("overwrite").parquet(
            os.path.join(src, "batch2")
        )
        with open(done, "w") as fh:
            fh.write("staged")
    new_df, _files = read_incremental(spark, src, manifest)
    return new_df.select("doc_id", "lang", "n_chars")


def s22_forget(spark, sf):
    """S-family -- right-to-be-forgotten hard delete (io.delete_rows):
    a copy of events loses every row of users with user_id % 37 == 0
    via broadcast anti-join + atomic rewrite-and-swap; the gate
    certifies the READ-BACK (per-type survivor counts + distinct
    users), i.e. the erasure is on disk, not just in a returned frame."""
    from .io import delete_rows

    root = _tagged_dir(sf, "events", "events_forget")
    tbl = os.path.join(root, "tbl")
    done = os.path.join(root, "_deleted")
    if not os.path.exists(done):
        ev = _t(spark, sf, "events").select("event_id", "user_id", "event_type")
        ev.write.mode("overwrite").parquet(tbl)
        subjects = ev.select("user_id").filter(F.col("user_id") % 37 == 0)
        delete_rows(spark, tbl, subjects, ["user_id"])
        with open(done, "w") as fh:
            fh.write("deleted")
    back = spark.read.parquet(tbl)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


def s14_compact(spark, sf):
    """S-family -- small-files compaction (io.compact).  The write-once
    base materializes a 48-file fragmented copy of a documents
    projection (the shape a streaming/CDC sink accretes); compact
    rewrites it to 4 files behind the crash-recoverable atomic swap.
    A sidecar marker makes the compaction once-per-data-generation:
    re-compacting would mint new file names and invalidate DataFrames
    returned by earlier invocations (lazy scans resolve files at
    execution).  The oracle checks the rewrite lost nothing."""
    from .io import compact

    path = _tagged_dir(sf, "documents", "docs_compact")
    marker = path + ".__compacted"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            _t(spark, sf, "documents")
            .select("doc_id", "lang")
            .repartition(48)
            .write.mode("overwrite")
            .parquet(path)
        )
    if not os.path.exists(marker):
        out = compact(spark, path, 4)
        with open(marker, "w"):
            pass
    else:
        out = spark.read.parquet(path)
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def d6_merge_upsert(spark, sf):
    """D-family -- CDC upsert fold (io.merge_upsert): base = orders with
    o_orderkey % 3 != 0 at version 1; updates = all even orderkeys at
    version 2 with status 'U'.  The merge must apply updates over
    matching keys, insert update-only keys (multiples of 6, absent from
    the base), and pass untouched rows through.  A
    FRESH scratch dir per invocation keeps the fold deterministic (the
    additive/upsert rewrite mutates its input dir); the handful of
    leaked sf0.01 temp dirs is bounded by gate runs.  o_totalprice is
    dropped from the output so the oracle hash stays float-free."""
    import tempfile
    import uuid

    from .io import merge_upsert

    base_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_upsert_{uuid.uuid4().hex[:16]}"
    )
    orders = _t(spark, sf, "orders")
    base = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(1).cast("long").alias("version"),
    )
    base.write.mode("overwrite").parquet(base_dir)
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        "o_totalprice",
        F.lit(2).cast("long").alias("version"),
    )
    merged = merge_upsert(spark, base_dir, updates, keys=["o_orderkey"], order_col="version")
    return merged.select("o_orderkey", "o_orderstatus", "version")


def s17_evolving_read(spark, sf):
    """S-family -- schema-evolution parquet read
    (io.read_parquet_evolving): two write generations of the orders
    projection land in sibling dirs -- gen1 (even orderkeys) without
    o_orderpriority, gen2 (odd orderkeys) with it.  mergeSchema unions
    the file schemas, null-filling the missing column for gen1 files;
    the gate aggregates per priority so the null-fill group is part of
    the certified value hash.  Write-once per data generation via the
    _SUCCESS markers (same discipline as s13/s16)."""
    from .io import read_parquet_evolving

    root = _tagged_dir(sf, "orders", "orders_evolve")
    g1, g2 = os.path.join(root, "gen1"), os.path.join(root, "gen2")
    orders = _t(spark, sf, "orders")
    if not os.path.exists(os.path.join(g1, "_SUCCESS")):
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(g1)
    if not os.path.exists(os.path.join(g2, "_SUCCESS")):
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.mode("overwrite").parquet(g2)
    ev = read_parquet_evolving(spark, g1, g2)
    return ev.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def s18_range_sorted(spark, sf):
    """S-family -- range-partitioned sorted layout (io.write_range_sorted):
    orders written once range-partitioned + sorted on o_orderdate; the
    gate reads the layout back through a date-range predicate (the scan
    shape the layout exists for -- parquet min/max footer stats prune
    files and row groups; per-file stat narrowness is plan/stat-asserted
    in tests/test_layout.py) and certifies the data round-trip exactly
    against the unsorted source."""
    from .io import write_range_sorted

    path = _tagged_dir(sf, "orders", "orders_rangesort")
    orders = _t(spark, sf, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_range_sorted(
            orders.select("o_orderkey", "o_orderdate", "o_totalprice"),
            path,
            by=["o_orderdate"],
            num_files=8,
        )
    rd = spark.read.parquet(path).filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    return rd.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def s27_bucketed_join(spark, sf):
    """S-family -- bucketed-table layout + exchange-free co-located
    join (io.bucketed_table): lineitem and orders are each written
    ONCE hash-clustered into 8 buckets on the order key (sorted within
    buckets), so this join -- and every future join on that key --
    runs bucket-to-bucket with ZERO Exchange in the physical plan (the
    shuffle was paid at write time; asserted in tests/test_layout.py).
    The merge hint keeps the small sf0.01 side from broadcasting so
    the gate exercises the layout, exactly as a 100 TB fact-fact join
    would.  Revenue through DECIMAL keeps the oracle hash exact."""
    from .io import bucketed_table

    buckets = 8
    li_path = _tagged_dir(sf, "lineitem", "bkt_li")
    o_path = _tagged_dir(sf, "orders", "bkt_ord")
    tag = li_path.rsplit("_", 1)[-1]
    li = bucketed_table(
        spark,
        _t(spark, sf, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        li_path, f"bkt_lineitem_{tag}", "l_orderkey", buckets,
    )
    o = bucketed_table(
        spark,
        _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority"),
        o_path, f"bkt_orders_{tag}", "o_orderkey", buckets,
    )
    j = li.hint("merge").join(o, li["l_orderkey"] == o["o_orderkey"])
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).cast("double").alias("revenue"),
    )


def s28_dpp_join(spark, sf):
    """S-family -- dynamic partition pruning: events are written ONCE
    Hive-partitioned by event_type; the category dimension is written
    to its OWN parquet (so the planner cannot fold the dim predicate
    into a static partition filter), and the fact-dim join then prunes
    fact partitions AT RUNTIME from the broadcasted dim filter result
    -- the scan's PartitionFilters carry a dynamicpruning subquery
    (asserted in tests/test_layout.py).  At 100 TB this is the
    difference between scanning every date partition and scanning the
    three the dim selected.  DECIMAL value sums keep the oracle exact."""
    from .io import write_partitioned

    fact_root = _tagged_dir(sf, "events", "dpp_fact")
    dim_root = _tagged_dir(sf, "events", "dpp_dim")
    ev = _t(spark, sf, "events")
    if not os.path.exists(os.path.join(fact_root, "_SUCCESS")):
        write_partitioned(ev, fact_root, by=["event_type"])
    if not os.path.exists(os.path.join(dim_root, "_SUCCESS")):
        (
            ev.select("event_type").distinct()
            .withColumn(
                "category",
                F.when(F.length("event_type") <= 5, F.lit("short"))
                .otherwise(F.lit("long")),
            )
            .write.mode("overwrite").parquet(dim_root)
        )
    fact = spark.read.parquet(fact_root)
    dim = spark.read.parquet(dim_root).filter(F.col("category") == "short")
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )


def s31_zonemap_prune(spark, sf):
    """S-family -- FILE-level data skipping via a zone-map sidecar
    (layout.write_zonemapped / read_zonemap_pruned): lineitem is
    written ONCE range-clustered on l_shipdate into 16 files with
    per-file min/max recorded in `_zonemap.json`; a ship-date range
    read then prunes whole files from the listing BEFORE any parquet
    footer is opened (the Iceberg/Delta skipping layer ABOVE parquet's
    row-group stats -- at 100 TB, millions of files, pruning the
    listing is a metadata lookup where footer reads are a distributed
    storm).  Zone pruning is recall-complete, so the result equals the
    plain filtered scan -- which is exactly what the oracle runs;
    tests/test_layout.py additionally asserts files were actually
    skipped, null-zone handling, and sidecar atomicity."""
    from .layout import read_zonemap_pruned, write_zonemapped

    root = _tagged_dir(sf, "lineitem", "zonemap")
    if not os.path.exists(os.path.join(root, "_zonemap.json")):
        write_zonemapped(
            _t(spark, sf, "lineitem").select(
                "l_shipdate", "l_extendedprice", "l_discount", "l_quantity"
            ),
            root,
            "l_shipdate",
            n_files=16,
        )
    pruned = read_zonemap_pruned(
        spark, root, "l_shipdate",
        datetime.date(1996, 1, 1), datetime.date(1996, 6, 30),
    )
    return pruned.groupBy(F.month("l_shipdate").cast("int").alias("ship_month")).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias(
            "total_qty"
        ),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).cast("double").alias("revenue"),
    )


def s32_compaction(spark, sf):
    """S-family -- small-file compaction (layout.compaction_plan /
    compact_parquet_dir): a lineitem projection is deliberately
    committed as 24 small files (the debris a streaming sink or
    per-partition append leaves), then compacted in ONE distributed
    job into first-fit-decreasing size bins of ~1/4 the table --
    file->bin broadcast map over input_file_name(), one shuffle,
    exactly one data file per bin.  Row preservation is the gate: the
    aggregate over the COMPACTED table must equal the oracle's plain
    lineitem scan; tests/test_layout.py asserts the planner's FFD
    properties (determinism, oversize singletons, bin capacity) and
    the actual file-count reduction."""
    from .layout import compact_parquet_dir

    src = _tagged_dir(sf, "lineitem", "compact_src")
    dst = _tagged_dir(sf, "lineitem", "compact_dst")
    cols = ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"]
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        (
            _t(spark, sf, "lineitem").select(*cols)
            .repartition(24)
            .write.mode("overwrite").parquet(src)
        )
    if not os.path.exists(os.path.join(dst, "_SUCCESS")):
        sizes = [
            os.path.getsize(os.path.join(src, n))
            for n in os.listdir(src) if n.endswith(".parquet")
        ]
        compact_parquet_dir(spark, src, dst, target_bytes=sum(sizes) // 4 + 1)
    return (
        spark.read.parquet(dst)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias(
                "total_qty"
            ),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                "double"
            ).alias("total_price"),
        )
    )


def g15_scc(spark, sf):
    """Strongly connected components (graph.strongly_connected_components:
    iterated forward/backward min-label peel) over the directed
    fulfillment graph -- supplier->customer edges where quantity > 48,
    customer->supplier RETURN edges where quantity < 3, so cycles are
    real.  The Spark side never materializes reachability; the oracle
    replays it as a recursive-CTE closure + mutual-reach self-join."""
    from .graph import strongly_connected_components

    # one pass over the fact join: the quantity predicate pushes to the
    # lineitem scan and each surviving row becomes a directed edge by
    # its band (forward sale edge vs return edge)
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_quantity") > 48) | (F.col("l_quantity") < 3)
    ).select("l_orderkey", "l_suppkey", "l_quantity")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    sup = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    cus = F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
    is_fwd = F.col("l_quantity") > 48
    edges = j.select(
        F.when(is_fwd, sup).otherwise(cus).alias("src"),
        F.when(is_fwd, cus).otherwise(sup).alias("dst"),
    ).distinct()
    return strongly_connected_components(edges)


def s29_join_ivm(spark, sf):
    """S-family -- incremental join-view maintenance (io.ivm_init /
    ivm_refresh): the orders x customer view starts from an early
    orders slice and half the customers, then ONE refresh applies both
    deltas through the classic three-term decomposition
    (dA JOIN B + A JOIN dB + dA JOIN dB) -- the view is never
    recomputed.  The gate reads the final view and aggregates it; the
    oracle is the full batch join, certifying the delta algebra
    reconstructed it exactly."""
    from .io import ivm_init, ivm_refresh

    root = _tagged_dir(sf, "orders", "join_ivm")
    orders = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_orderpriority",
        "o_totalprice", "o_orderdate",
    )
    customer = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    if not os.path.exists(os.path.join(root, "view.parquet", "_SUCCESS")):
        a0 = orders.filter(F.dayofmonth("o_orderdate") <= 10)
        b0 = customer.filter(F.col("custkey") % 2 == 0)
        ivm_init(spark, root, a0, b0, "custkey")
        ivm_refresh(
            spark, root, "custkey",
            delta_a=orders.filter(F.dayofmonth("o_orderdate") > 10),
            delta_b=customer.filter(F.col("custkey") % 2 != 0),
        )
    view = spark.read.parquet(os.path.join(root, "view.parquet"))
    return view.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "total_price"
        ),
    )


def s30_join_ivm_zset(spark, sf):
    """S-family -- SIGNED incremental view maintenance (io.ivm_*_zset,
    the DBSP/z-set algebra): one refresh both INSERTS the late orders
    and DELETES every %7 order and every odd customer -- retraction
    flows through the join as multiplied -1 multiplicities, no
    recompute.  The netted view aggregate is value-checked against the
    batch join over the post-delete bases."""
    from .io import ivm_init_zset, ivm_read_zset, ivm_refresh_zset

    root = _tagged_dir(sf, "orders", "join_ivm_zset")
    orders = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_orderpriority",
        "o_totalprice", "o_orderdate",
    )
    customer = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    if not os.path.exists(os.path.join(root, "view.parquet", "_SUCCESS")):
        a0 = orders.filter(F.dayofmonth("o_orderdate") <= 10)
        ivm_init_zset(spark, root, a0, customer, "custkey")
        ins = orders.filter(F.dayofmonth("o_orderdate") > 10).withColumn(
            "__mult", F.lit(1).cast("long")
        )
        dele = a0.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "__mult", F.lit(-1).cast("long")
        )
        del_b = customer.filter(F.col("custkey") % 2 != 0).withColumn(
            "__mult", F.lit(-1).cast("long")
        )
        ivm_refresh_zset(
            spark, root, "custkey",
            delta_a=ins.unionByName(dele), delta_b=del_b,
        )
    net = ivm_read_zset(spark, root)
    return net.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.sum("__mult").cast("long").alias("n_orders"),
        F.sum(
            F.col("__mult") * F.col("o_totalprice").cast("decimal(18,2)")
        ).cast("double").alias("total_price"),
    )


def s19_vacuum(spark, sf):
    """S-family -- versioned-store retention (io.vacuum_versions): four
    snapshots publish into a FRESH scratch store (deterministic slices
    of documents), vacuum keeps the newest two, and the gate returns
    the surviving versions' per-version profiles plus the deleted
    version ids -- certifying the retention window end-to-end.  Fresh
    dir per invocation: vacuum mutates the store."""
    import tempfile
    import uuid

    from .io import list_versions, read_version, vacuum_versions, write_version

    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_vacuum_{uuid.uuid4().hex[:16]}"
    )
    d = _t(spark, sf, "documents").select("doc_id", "n_chars")
    for mod in (2, 3, 4, 5):  # v1..v4 = progressively sparser slices
        write_version(d.filter(F.col("doc_id") % mod == 0), root)
    deleted = vacuum_versions(root, keep_latest=2)
    out = None
    for v in list_versions(root):
        prof = read_version(spark, root, v).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).withColumn("version", F.lit(v)).withColumn("kind", F.lit(1))
        out = prof if out is None else out.unionByName(prof)
    deleted_df = spark.createDataFrame(
        [(0, v, None, None) for v in deleted],
        "kind int, version int, n_docs long, total_chars long",
    )
    return deleted_df.unionByName(
        out.select("kind", "version", "n_docs", "total_chars")
    )


def s20_version_changes(spark, sf):
    """S-family -- change data feed between committed snapshot versions
    (io.read_version_changes): v1 = even-doc slice, v2 = multiples-of-3
    slice with n_chars bumped for even keys -- so the delta contains
    ADDED (3k odd keys), REMOVED (even non-3k), CHANGED (6k keys whose
    bump is nonzero), and silent unchanged rows (6k keys with
    doc_id %% 5 == 0).  Write-once per data generation; the diff is the
    CDC consumer's read path."""
    from .io import list_versions, read_version_changes, write_version

    root = _tagged_dir(sf, "documents", "docs_cdf")
    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    if len(list_versions(root)) < 2:
        write_version(d.filter(F.col("doc_id") % 2 == 0), root)
        v2 = d.filter(F.col("doc_id") % 3 == 0).withColumn(
            "n_chars",
            F.col("n_chars")
            + F.when(F.col("doc_id") % 2 == 0, F.col("doc_id") % 5).otherwise(F.lit(0)),
        )
        write_version(v2, root)
    return read_version_changes(spark, root, 1, 2, keys=["doc_id"])


def s26_sketch_rollup(spark, sf):
    """S-family -- incremental distinct rollup over a PERSISTED sketch:
    the history slice's md5-HLL register table (day-of-month <= 20) is
    written to parquet ONCE (the nightly job), and every invocation
    reads it back and merges it with the fresh slice's registers
    (register-wise max) for a whole-range per-type distinct estimate --
    history is NEVER rescanned, the property exact count-distinct
    cannot offer.  The oracle re-derives the identical estimate and the
    history register count from raw events, certifying persist + reload
    + merge lossless end-to-end (merge-of-max == global max)."""
    from .aggregates import hll_md5_estimate, hll_md5_registers

    ev = load_table(spark, sf, "events")
    root = _tagged_dir(sf, "events", "hll_rollup")
    hist_path = os.path.join(root, "hist_regs.parquet")
    if not os.path.exists(os.path.join(hist_path, "_SUCCESS")):
        hist = ev.filter(F.dayofmonth("ts") <= 20)
        hll_md5_registers(hist, ["event_type"], "user_id").write.mode(
            "overwrite"
        ).parquet(hist_path)
    persisted = spark.read.parquet(hist_path)
    fresh = hll_md5_registers(
        ev.filter(F.dayofmonth("ts") > 20), ["event_type"], "user_id"
    )
    merged = (
        persisted.unionByName(fresh)
        .groupBy("event_type", "__reg")
        .agg(F.max("__mj").alias("__mj"))
    )
    n_hist = persisted.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hist_regs")
    )
    est = hll_md5_estimate(merged, ["event_type"], "distinct_est")
    return n_hist.join(est, "event_type").select(
        "event_type", "n_hist_regs", "distinct_est"
    )


def s25_cdc_images(spark, sf):
    """S-family -- change data feed WITH pre/post images
    (io.read_version_changes_images): the s20 version store read
    through the full-fidelity sibling, so every added/removed/changed
    key carries old_*/new_* column images -- the Delta-CDF contract a
    reversal/audit consumer needs.  Reuses s20's committed store."""
    from .io import list_versions, read_version_changes_images, write_version

    root = _tagged_dir(sf, "documents", "docs_cdf")
    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    if len(list_versions(root)) < 2:
        write_version(d.filter(F.col("doc_id") % 2 == 0), root)
        v2 = d.filter(F.col("doc_id") % 3 == 0).withColumn(
            "n_chars",
            F.col("n_chars")
            + F.when(F.col("doc_id") % 2 == 0, F.col("doc_id") % 5).otherwise(F.lit(0)),
        )
        write_version(v2, root)
    return read_version_changes_images(spark, root, 1, 2, keys=["doc_id"])


def v9_profile_drift(spark, sf):
    """V-family -- snapshot-to-snapshot column profile drift: the exact
    facets of report.profile_table (rows/nulls/min/max; the HLL
    estimate is excluded, as in v6) computed for two deterministic
    slices of orders and joined per column -- the schema/content drift
    monitor a nightly load runs before publish."""
    from .report import profile_table

    cols = ["o_orderstatus", "o_custkey", "o_orderpriority"]
    a = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 2 == 0).select(*cols)
    b = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 3 == 0).select(*cols)
    pa = profile_table(a).select(
        "column",
        F.col("n_rows").alias("rows_a"),
        F.col("n_nulls").alias("nulls_a"),
        F.col("min_str").alias("min_a"),
        F.col("max_str").alias("max_a"),
    )
    pb = profile_table(b).select(
        "column",
        F.col("n_rows").alias("rows_b"),
        F.col("n_nulls").alias("nulls_b"),
        F.col("min_str").alias("min_b"),
        F.col("max_str").alias("max_b"),
    )
    return pa.join(pb, "column").select(
        "column", "rows_a", "rows_b", "nulls_a", "nulls_b",
        (F.col("min_a") != F.col("min_b")).alias("min_drifted"),
        (F.col("max_a") != F.col("max_b")).alias("max_drifted"),
    )


def g8_kcore(spark, sf):
    """Graph family -- k-core peel (k=3) of the undirected
    supplier<->customer fulfillment graph: the dense-subgraph
    cohesion primitive.  Full value oracle: the peel IS
    recursive-CTE-expressible -- the working table carries the current
    surviving edge set, and one round = window degrees over it (the
    removed set is never consulted); the oracle runs the peel to the
    same max_iter=50 horizon (idempotent past the fixpoint).  Exactness
    vs a pure-Python peel is also pytest-asserted (tests/test_graph.py)."""
    from .graph import k_core

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return k_core(edges, k=3)


def g9_personalized_pr(spark, sf):
    """Graph family -- personalized PageRank (3 sync iterations,
    d=0.85) with the teleport vector on every 10th supplier node:
    seed-proximity relevance over the fulfillment graph.  Same
    DECIMAL(38,18) contribution discipline as g1, so the unrolled-SQL
    oracle hash-matches bit-for-bit."""
    from .graph import personalized_pagerank

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    seeds = (
        li.filter(F.col("l_suppkey") % 10 == 0)
        .select(F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("node"))
        .distinct()
    )
    out = personalized_pagerank(edges, seeds)
    return out.select("node", F.round(F.col("rank"), 12).alias("rank"))


def v10_reconcile(spark, sf):
    """V-family -- row-level reconciliation of two derived event
    snapshots (deterministic synthetic drift: one side drops
    event_id%103 rows, the other drops %101, perturbs value on %97 and
    nulls event_type on %89): one full-outer key join + one aggregate,
    unpivoted to a (metric, column, n) report (report.reconcile)."""
    from .report import reconcile

    ev = _t(spark, sf, "events").select("event_id", "event_type", "value", "props")
    left = ev.filter(F.col("event_id") % 103 != 0)
    right = (
        ev.filter(F.col("event_id") % 101 != 0)
        .withColumn(
            "value",
            F.when(F.col("event_id") % 97 == 0, F.col("value") + 1).otherwise(
                F.col("value")
            ),
        )
        .withColumn(
            "event_type",
            F.when(F.col("event_id") % 89 == 0, F.lit(None).cast("string")).otherwise(
                F.col("event_type")
            ),
        )
    )
    return reconcile(left, right, ["event_id"])


def e21_quarantine(spark, sf):
    """E-family -- error-routing ingest: JSON props parsed with an
    explicit schema; rows whose payload is (deterministically)
    truncated fail the parse and are ROUTED with a reason instead of
    poisoning the load -- the coerce-to-null house rule upgraded to a
    quarantine lane.  Malformed detection is the canonical Spark
    corrupt-record column (PERMISSIVE from_json fills `_corrupt` with
    the raw payload instead of raising -- a null STRUCT is not emitted
    for malformed input, the corrupt column is the contract);
    try_cast(JSON) IS NULL is the DuckDB equivalent."""
    ev = _t(spark, sf, "events")
    p = F.when(
        F.col("event_id") % 17 == 0, F.substring("props", 1, 4)
    ).otherwise(F.col("props"))
    parsed = F.from_json(
        p,
        "k int, _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    bad = parsed.getField("_corrupt").isNotNull()
    return ev.select(
        "event_id",
        F.when(bad, F.lit("quarantined:malformed_json"))
        .otherwise(F.lit("ok"))
        .alias("status"),
        F.when(~bad, parsed.getField("k")).cast("long").alias("prop_k"),
    )


def v11_k_anonymity(spark, sf):
    """V-family -- k-anonymity release audit over the customer table
    with quasi-identifiers (nationkey, mktsegment): equivalence classes
    smaller than k=5 are re-identifiable by external linkage and get
    flagged for suppression/generalization (report.k_anonymity).  One
    map-side-combined groupBy; shuffle is class-cardinality-sized."""
    from .report import k_anonymity

    return k_anonymity(
        _t(spark, sf, "customer"), ["c_nationkey", "c_mktsegment"], k=5
    )


def e22_pseudonymize(spark, sf):
    """E-family -- deterministic keyed pseudonymization of PII columns
    (expressions.pseudonymize): sha2-256 over salt||value, so the same
    customer always maps to the same token and downstream joins/groupBys
    survive PII removal -- the release-safe sibling of llm_redact's
    destructive masking.  Pure codegen projection, scan speed."""
    from .expressions import pseudonymize

    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        pseudonymize("c_name", "pepper-2024").alias("name_token"),
    )


def v12_psi(spark, sf):
    """V-family -- Population Stability Index drift report between the
    first and second half of the event stream (report.psi_report):
    shared equal-width bins over the combined range, eps-clamped
    shares, per-bin PSI terms.  The model-monitoring twin of
    v9_profile_drift."""
    from .report import psi_report

    ev = _t(spark, sf, "events")
    cut = F.lit("2024-01-16").cast("date")
    a = ev.filter(F.col("ts").cast("date") < cut).select("value")
    b = ev.filter(F.col("ts").cast("date") >= cut).select("value")
    return psi_report(a, b, "value", nbins=10)


def v17_dp_counts(spark, sf):
    """V-family -- differentially-private count release
    (report.dp_counts): per-event-type Laplace-noised counts,
    epsilon=1, md5-deterministic noise (audit-reproducible seam; a
    production release swaps in true randomness).  The oracle runs the
    IDENTICAL portable noise SQL, so the full release is
    VALUE-checked."""
    from .report import dp_counts

    return dp_counts(_t(spark, sf, "events"), "event_type", epsilon=1.0)


def w_seasonal_decompose(spark, sf):
    """Seasonal decomposition with anomaly counts: value = type mean +
    hour-of-day effect + residual; per (type, hour) the effect, volume,
    and the count of residuals beyond 2 sigma -- the classical
    seasonal-adjustment screen, fully deterministic (DECIMAL-summed
    means, rounded components).  Two event scans total (the residual
    pass is inherently second-pass): the (type, hour) table is built
    once and the type mean DERIVES from it (no separate scan), both
    group-cardinality frames localCheckpoint so their lineage doesn't
    replicate the event subplan into every consumer (this plan
    originally scanned events 10x -- caught by the repo's own lint)."""
    ev = _t(spark, sf, "events").select(
        "event_type",
        F.hour(F.col("ts").cast("timestamp")).cast("int").alias("hour"),
        "value",
    )
    h = ev.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("__hs"),
    ).localCheckpoint(eager=True)
    o = h.groupBy("event_type").agg(
        F.round(
            F.sum("__hs").cast("double") / F.sum("n_events"), 6
        ).alias("__mean")
    )
    h2 = h.join(F.broadcast(o), "event_type").withColumn(
        "hour_effect",
        F.round(
            F.col("__hs").cast("double") / F.col("n_events") - F.col("__mean"), 6
        ),
    ).localCheckpoint(eager=True)
    rows = (
        ev.join(
            F.broadcast(h2.select("event_type", "hour", "hour_effect", "__mean")),
            ["event_type", "hour"],
        )
        .withColumn(
            "__r", F.round(F.col("value") - F.col("__mean") - F.col("hour_effect"), 6)
        )
    )
    sig = rows.groupBy("event_type").agg(
        F.round(
            F.sqrt(
                F.sum((F.col("__r") * F.col("__r")).cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ),
            6,
        ).alias("__sig")
    )
    anom = (
        rows.join(F.broadcast(sig), "event_type")
        .withColumn(
            "__a", (F.abs(F.col("__r")) > 2 * F.col("__sig")).cast("long")
        )
        .groupBy("event_type", "hour")
        .agg(F.sum("__a").cast("long").alias("n_anomalies"))
    )
    return (
        h2.select("event_type", "hour", "n_events", "hour_effect")
        .join(anom, ["event_type", "hour"])
    )


def w_mk_trend(spark, sf):
    """Mann-Kendall monotonic-trend test per event type over the daily
    volume series (windows.mann_kendall_trend): integer S + tie terms,
    continuity-corrected z -- the nonparametric trend screen that
    pairs with w_cusum.  Fully VALUE-checked."""
    from .streaming.windows import mann_kendall_trend

    return mann_kendall_trend(_t(spark, sf, "events"))


def w_theil_sen(spark, sf):
    """Theil-Sen robust slope per event type (windows.theil_sen_slope):
    lower median of all pairwise daily slopes, 9-digit-rounded before
    the rank so the pick is engine-exact.  VALUE-checked."""
    from .streaming.windows import theil_sen_slope

    return theil_sen_slope(_t(spark, sf, "events"))


def w_acf(spark, sf):
    """Daily-volume autocorrelation at lags 1..7 per event type
    (windows.daily_acf): integer power sums -> one final double
    expression, fully VALUE-checked -- the persistence/weekly-cycle
    diagnostic next to w_seasonal_decompose."""
    from .streaming.windows import daily_acf

    return daily_acf(_t(spark, sf, "events"))


def g16_bipartite_projection(spark, sf):
    """Bipartite projection (graph.bipartite_projection): the
    supplier->customer fulfillment edges pivoted into a weighted
    supplier co-sale graph -- customers shared, hub customers dropped
    before the d^2 wedge pivot, weight >= 2 tail pruned.  The graph
    transform that FEEDS the g1-g15 algorithms; fully VALUE-checked."""
    from .graph import bipartite_projection

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 48).select(
        "l_orderkey", "l_suppkey"
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
        )
    )
    return bipartite_projection(edges, min_weight=2, hub_cap=50)


def w_runs_test(spark, sf):
    """Wald-Wolfowitz runs test per event type over the daily volume
    series (windows.runs_test): above/below-median labels, integer run
    counts vs the closed-form expectation -- the randomness screen
    that completes the nonparametric battery (a45/a52/w_mk_trend).
    Fully VALUE-checked."""
    from .streaming.windows import runs_test

    return runs_test(_t(spark, sf, "events"))


def v13_benford(spark, sf):
    """V-family -- Benford first-digit audit of order totals
    (report.benford_report): observed vs log10(1+1/d) expected shares
    plus chi-square terms, the forensic screen for fabricated
    financial figures."""
    from .report import benford_report

    return benford_report(_t(spark, sf, "orders"), "o_totalprice")


def v16_chi_square_drift(spark, sf):
    """V-family -- chi-square homogeneity between the first and second
    half of the event stream over event_type (report.chi_square_drift):
    the categorical sibling of v12's PSI.  One category-cardinality
    aggregate per slice + a single-row totals broadcast."""
    from .report import chi_square_drift

    ev = _t(spark, sf, "events")
    cut = F.lit("2024-01-16").cast("date")
    a = ev.filter(F.col("ts").cast("date") < cut).select("event_type")
    b = ev.filter(F.col("ts").cast("date") >= cut).select("event_type")
    return chi_square_drift(a, b, "event_type")


def v14_l_diversity(spark, sf):
    """V-family -- l-diversity audit (report.l_diversity), the
    homogeneity-attack companion to v11: classes keyed by (nationkey,
    mktsegment) must show >= 3 distinct coarse balance buckets or the
    sensitive attribute leaks despite k-anonymity."""
    from .report import l_diversity

    c = _t(spark, sf, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 3000.0).cast("long")
    )
    return l_diversity(
        c, ["c_nationkey", "c_mktsegment"], "bal_bucket", l=3
    )


def llm_sentence_split(spark, sf):
    """Text-prep -- rule-based sentence segmentation (llm/text.
    sentence_split): terminator-run boundaries, trimmed non-empty
    fragments with document-order indices.  The synthetic corpus has
    no punctuation, so deterministic boundaries are injected first
    (' value ' -> '? ') -- identical literal replace in the oracle."""
    from .llm.text import sentence_split

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" value "), F.lit("? ")).alias("text"),
    )
    return sentence_split(docs)


def llm_nfc_normalize(spark, sf):
    """Corpus hygiene -- Unicode NFC normalization (llm/text.
    normalize_unicode, Arrow kernel over unicodedata) with a changed
    flag per doc.  The synthetic corpus is ASCII (NFC-invariant), so
    decomposed sequences are injected deterministically first
    (' spark ' -> ' spa<combining-acute>rk ') -- the DuckDB oracle does
    the same injection and normalizes with its native nfc_normalize,
    certifying the kernel cross-engine."""
    from .llm.text import normalize_unicode

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.replace(
            F.col("text"), F.lit(" spark "), F.lit(" spa\u0301rk ")
        ).alias("text"),
    )
    return normalize_unicode(docs)


def j22_spatial_join(spark, sf):
    """Spatial radius join (joins.spatial_radius_join): customers vs
    suppliers on synthesized deterministic planar coordinates, all
    pairs within radius 1.5 -- grid-cell bucketing + 3x3 neighbor
    expansion + exact refine, never a cross join."""
    from .joins import spatial_radius_join

    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("id_a"),
        ((F.col("c_custkey") * 37 % 1000) / 10.0).alias("x"),
        ((F.col("c_custkey") * 61 % 1000) / 10.0).alias("y"),
    )
    supp = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id_b"),
        ((F.col("s_suppkey") * 41 % 1000) / 10.0).alias("x"),
        ((F.col("s_suppkey") * 53 % 1000) / 10.0).alias("y"),
    )
    return spatial_radius_join(cust, supp, radius=1.5)


def j22b_spatial_haversine(spark, sf):
    """Geodesic spatial radius join (joins.spatial_radius_join with
    metric='haversine'): customers vs suppliers on synthesized
    deterministic lon/lat, all pairs within 200 km great-circle
    distance -- latitude-band grid cells with per-band longitude cell
    sizing, antimeridian wrap, pole collapse; exact haversine refine."""
    from .joins import spatial_radius_join

    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("id_a"),
        ((F.col("c_custkey") * 37 % 3600) / 10.0 - 180.0).alias("x"),
        ((F.col("c_custkey") * 61 % 1700) / 10.0 - 85.0).alias("y"),
    )
    supp = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id_b"),
        ((F.col("s_suppkey") * 41 % 3600) / 10.0 - 180.0).alias("x"),
        ((F.col("s_suppkey") * 53 % 1700) / 10.0 - 85.0).alias("y"),
    )
    return spatial_radius_join(cust, supp, radius=200.0, metric="haversine")


_J23_POLYGON = [(10, 10), (90, 15), (50, 45), (80, 85), (20, 80), (40, 50)]


def j23_point_in_polygon(spark, sf):
    """Point-in-polygon containment (joins.point_in_polygon): customers
    on synthesized planar coordinates tested against a fixed non-convex
    hexagon by even-odd ray casting -- one XOR-folded boolean term per
    edge, zero shuffle, pure codegen.  The SQL text is shared verbatim
    with the oracle (point_in_polygon_sql)."""
    from .joins import point_in_polygon

    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 37 % 1000) / 10.0).alias("x"),
        ((F.col("c_custkey") * 61 % 1000) / 10.0).alias("y"),
    )
    return point_in_polygon(cust, _J23_POLYGON).filter(F.col("inside")).select(
        "id", "x", "y"
    )


def e23_mask_shape(spark, sf):
    """E-family -- format-preserving masking of customer fields
    (expressions.mask_shape): digits->9, upper->X, lower->x, layout
    survives -- the safe-preview sibling of e22's joinable tokens."""
    from .expressions import mask_shape

    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        mask_shape("c_name").alias("name_masked"),
        mask_shape("c_mktsegment").alias("segment_masked"),
    )


def w_lag_features(spark, sf):
    """Per-type lag-feature matrix (streaming/windows.lag_features):
    value at t-1 and t-7 in each type's event stream, all lags on ONE
    window/shuffle."""
    from .streaming.windows import lag_features

    return lag_features(_t(spark, sf, "events"), lags=(1, 7))


def g13_weighted_pr(spark, sf):
    """Weighted PageRank (3 iterations, d=0.85) over the supplier->
    customer graph with edge weight = lineitem count per pair
    (graph.pagerank(weight_col=...)): endorsement proportional to
    interaction volume.  Same DECIMAL contribution discipline as g1,
    so the unrolled weighted SQL oracle is bit-exact."""
    from .graph import pagerank

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    out = pagerank(edges, iterations=3, weight_col="w")
    return out.select("node", F.round(F.col("rank"), 12).alias("rank"))


def g12_hits(spark, sf):
    """Graph family -- HITS hubs/authorities (2 L1-normalized
    iterations) over the distinct supplier->customer fulfillment
    graph (graph.hits): suppliers score as hubs, customers as
    authorities.  DECIMAL-summed contributions and normalizers make
    the unrolled 2-iteration SQL oracle bit-exact."""
    from .graph import hits

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return hits(edges, iterations=2)


def g11_modularity(spark, sf):
    """Graph family -- Newman modularity of the 2-round label
    propagation partition over the g2 sparse fulfillment graph: the
    partition-quality scalar that closes the community-detection loop
    (detect with g5, SCORE with g11).  Integer e_c/d_c/m +
    DECIMAL-summed rounded terms -> the composed oracle (g5's unrolled
    label CTE + the same arithmetic) matches bit-for-bit."""
    from .graph import label_propagation, modularity

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 48).select(
        "l_orderkey", "l_suppkey"
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return modularity(edges, label_propagation(edges, iterations=2))


def a38_weighted_median(spark, sf):
    """A-family -- per-group weighted median (l_extendedprice weighted
    by l_quantity per returnflag/linestatus): DECIMAL-exact cumulative
    weights make the crossing test order-independent, so the
    window-SQL oracle hash-matches exactly."""
    from .aggregates import weighted_median

    li = _t(spark, sf, "lineitem")
    return weighted_median(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice", "l_quantity"
    )


def g10_adamic_adar(spark, sf):
    """Graph family -- Adamic-Adar link prediction (top-50 pairs) over
    the g2 sparse fulfillment graph: non-adjacent pairs scored by
    sum(1/ln(deg)) over common neighbors, degree-capped pivots bound
    the wedge fan-out.  DECIMAL-summed rounded terms, so the plain-SQL
    oracle (same wedge join) hash-matches bit-for-bit."""
    from .graph import adamic_adar

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 48).select(
        "l_orderkey", "l_suppkey"
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return adamic_adar(edges, max_degree=200, k=50)


def d7_merge_additive(spark, sf):
    """D-family -- incremental materialized-rollup refresh
    (io.merge_additive): the base rollup aggregates only even-user
    events, the delta only odd-user events; folding the delta in must
    reproduce the full-corpus rollup exactly (associativity of sum) --
    which is precisely what the oracle computes from scratch.  Fresh
    scratch dir per invocation: the fold rewrites its input, so a
    shared dir would double-count on re-invocation."""
    import tempfile
    import uuid

    from .io import merge_additive

    base_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_additive_{uuid.uuid4().hex[:16]}"
    )
    ev = _t(spark, sf, "events")
    counts = lambda d: d.groupBy("event_type").agg(  # noqa: E731
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("user_id")).cast("long").alias("user_id_sum"),
    )
    counts(ev.filter(F.col("user_id") % 2 == 0)).write.mode("overwrite").parquet(base_dir)
    delta = counts(ev.filter(F.col("user_id") % 2 == 1))
    merged = merge_additive(
        spark, base_dir, delta, keys=["event_type"], sum_cols=["n", "user_id_sum"]
    )
    return merged.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("user_id_sum").cast("long").alias("user_id_sum"),
    )


# --------------------------------------------------------------------------
# Bench headliners: TPC-H-shaped analytics (pricing summary / shipping
# priority / nation volume).  Float aggregation via DECIMAL -> exact and
# engine-independent; surfaced as double.
# --------------------------------------------------------------------------

def q1_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15 00:00:00"))
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15 00:00:00"))
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    # customer broadcasts into orders; li-orders co-shuffle on the order key
    # (both fact-scale -- the correct 100 TB shape; AQE picks the strategy).
    # customer/orders/lineitem all scale with the data: no forced
    # broadcast hints -- AQE broadcasts the filtered side when it is
    # actually small and falls back to shuffle join when it is not
    # (a forced broadcast of a scaling table OOMs at 100 TB).
    joined = li.join(
        orders.join(cust.select("c_custkey"), orders["o_custkey"] == F.col("c_custkey")),
        li["l_orderkey"] == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q4_order_priority(spark, sf):
    """TPC-H Q4: order-priority checking -- quarterly orders with at
    least one LATE lineitem, counted per priority.  The test tables
    carry no l_commitdate/l_receiptdate, so "late" is l_shipdate more
    than 30 days after o_orderdate; the shape is the faithful part: an
    EXISTS as a left-semi join whose condition mixes the equi key with
    a cross-side inequality (hash on the key, residual filter)."""
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00"))
    )
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = (orders["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def j11_semi_join(spark, sf):
    """Left SEMI join (TPC-H Q4 shape): orders having at least one
    late-shipped lineitem.  The probe side streams; only the key set of
    the build side ships -- no payload duplication, no fan-out."""
    orders = _t(spark, sf, "orders")
    late = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-06-30 00:00:00"))
    return (
        orders.join(late.select("l_orderkey"), orders["o_orderkey"] == F.col("l_orderkey"),
                    "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


def j12_anti_join(spark, sf):
    """Left ANTI join (TPC-H Q22 shape): customers with no URGENT
    orders (the unfiltered form is vacuous on dense test data)."""
    cust = _t(spark, sf, "customer")
    urgent = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent.select("o_custkey"), cust["c_custkey"] == F.col("o_custkey"),
                  "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def j13_full_outer(spark, sf):
    """FULL OUTER join: every customer and every per-customer order
    rollup survive, null-filled where the other side is absent
    (customers with no orders on dense TPC-H data; orphan orders would
    surface symmetrically).  Fact-to-aggregate shuffle join; AQE picks
    the physical strategy."""
    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    cnt = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return (
        cust.join(cnt, cust["c_custkey"] == cnt["o_custkey"], "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("cust_id"),
            "c_mktsegment",
            "n_urgent",
        )
    )


def e20_pad_ids(spark, sf):
    """E-family -- fixed-width zero-padded id rendering (the inverse of
    e3's trailing-`.0` strip: systems exchanging keys as text need one
    canonical width).  lpad over the decimal rendering."""
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("custkey_padded"),
    )


def a37_entropy(spark, sf):
    """Behavioral diversity: Shannon entropy (bits) of each user's
    event-type distribution.  p*log2(p) terms are rounded to 6 digits
    before the DECIMAL-order-free sum (libm log is not guaranteed
    correctly rounded, unlike sqrt) -- the bigram_logprob discipline."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = Window.partitionBy("user_id")
    p = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    term = F.round(-p * F.log2(p), 6).cast("decimal(18,6)")
    return (
        counts.withColumn("__t", term)
        .groupBy("user_id")
        .agg(F.sum("__t").cast("double").alias("entropy_bits"))
    )


def a36_dominance(spark, sf):
    """Per-user behavioral dominance: the most frequent event type and
    its share of the user's events (mode + share in one pass; ties
    break to the lexicographically smallest type, the engine's A1
    discipline).  Shares divide exact longs."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    totals = Window.partitionBy("user_id")
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .withColumn("__tot", F.sum("n").over(totals))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_type"),
            F.col("n").alias("n_top"),
            F.col("__tot").cast("long").alias("n_total"),
            (F.col("n").cast("double") / F.col("__tot").cast("double")).alias("share"),
        )
    )


def p11_distinct_from(spark, sf):
    """Null-safe inequality predicate (IS DISTINCT FROM): events whose
    JSON props differ from a reference value, keeping nulls -- the
    comparison a plain != silently drops."""
    ev = _t(spark, sf, "events")
    ref = F.lit('{"k": 1}')
    return ev.filter(~F.col("props").eqNullSafe(ref)).select(
        "event_id", "user_id", "props"
    )


def d11_keep_latest_n(spark, sf):
    """Retention policy: keep each customer's LATEST 3 orders (by
    orderdate desc, orderkey desc tiebreak) and drop older history --
    the version-pruning twin of d4's keep-first.  One window pass."""
    from pyspark.sql import Window

    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


def d10_burst_dedup(spark, sf):
    """At-least-once ingestion dedup: within each (user, event_type)
    stream, drop events arriving within 30 minutes of the PREVIOUS KEPT
    event's burst start -- approximated engine-side by the standard
    lag-based rule (new burst when the gap from the previous event is
    >= the window), which needs ONE window pass instead of a per-key sequential
    scan.  Keeps the first event of each burst."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    return (
        ev.withColumn("__keep", gap.isNull() | (gap >= 1800 * 1_000_000))
        .filter(F.col("__keep"))
        .select("event_id", "user_id", "event_type", "ts")
    )


def u4_union_distinct(spark, sf):
    """Row-set UNION (distinct): nations appearing as customer OR
    supplier homes -- the dedup twin of u1's UNION ALL."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    su = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(su).distinct()


def j21_report_spine(spark, sf):
    """Reporting spine: the FULL region x order-priority grid (both
    metadata-scale dims, so the cross product is deliberate and tiny)
    left-filled with order counts, zero where empty -- the gap-free
    report every BI layer wants.  The fact side aggregates BEFORE
    joining the spine, so the grid join touches |grid| rows."""
    r = _t(spark, sf, "region").select("r_regionkey", "r_name")
    pri = _t(spark, sf, "orders").select("o_orderpriority").distinct()
    spine = r.crossJoin(pri)
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    facts = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_regionkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    return spine.join(
        facts,
        (spine["r_regionkey"] == facts["n_regionkey"])
        & (spine["o_orderpriority"] == facts["o_orderpriority"]),
        "left",
    ).select(
        spine["r_name"].alias("region"),
        spine["o_orderpriority"].alias("priority"),
        F.coalesce(facts["n_orders"], F.lit(0).cast("long")).alias("n_orders"),
    )


def e18_slugify(spark, sf):
    """E-family extension -- URL-safe slug derivation from part names:
    lowercase, non-alphanumeric runs to single hyphens, trimmed.  The
    id-derivation twin of the reference's concat-key discipline
    (etl_payroll_pipeline.py:318-326), RE2/Java-identical regexes."""
    p = _t(spark, sf, "part")
    slug = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("p_name")), r"[^a-z0-9]+", "-"), r"^-+|-+$", ""
    )
    return p.select("p_partkey", F.col("p_name"), slug.alias("slug"))


def a33_gini(spark, sf):
    """Volume-concentration (Gini) per corpus dimension: how unevenly
    document volume spreads across sources.  The classic sorted-
    cumulative formula over the per-source counts -- the window runs
    over |sources| rows (metadata scale), counts are exact longs, and
    the final expression is pure IEEE double arithmetic."""
    from pyspark.sql import Window

    per = _t(spark, sf, "documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy(F.col("n").asc(), F.col("source").asc())
    ranked = per.withColumn("i", F.row_number().over(w))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("total"),
        F.sum(F.col("i") * F.col("n")).cast("long").alias("iw"),
    )
    return agg.select(
        "k",
        "total",
        (
            F.lit(2.0) * F.col("iw").cast("double")
            / (F.col("k").cast("double") * F.col("total").cast("double"))
            - (F.col("k") + 1).cast("double") / F.col("k").cast("double")
        ).alias("gini"),
    )


def a32_basket_pairs(spark, sf):
    """Market-basket co-occurrence: top-20 part pairs appearing in the
    same order (pair space bounded by items-per-order, ~7 on TPC-H, so
    the within-order self-join is O(n * k^2), never n^2; the join key
    is the orderkey -- one co-partitioned shuffle)."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).groupBy(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    return pairs.orderBy(
        F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


def a28_string_agg(spark, sf):
    """Deterministic ordered string aggregation: per region, the
    '|'-joined ascending list of nation names.  Spark's collect_list
    is order-nondeterministic, so the engine sorts the array BEFORE
    joining -- array_join(array_sort(collect_set)) -- which is the only
    way the value-hash can match a string_agg ... ORDER BY oracle."""
    n = _t(spark, sf, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("n_name")), "|").alias("nations"),
            F.count(F.lit(1)).cast("long").alias("n_nations"),
        )
        .select(F.col("n_regionkey").alias("regionkey"), "nations", "n_nations")
    )


def a12_unpivot(spark, sf):
    """Unpivot / melt: wide lineitem metrics to long (row, metric,
    value) form -- the inverse of a8_pivot; narrow fan-out, no
    shuffle."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )


def a6_window_analytics(spark, sf):
    """Ranking/lag/cumulative window suite over the order history: the
    shuffle key is the window partition (customer); one exchange total."""
    from pyspark.sql import Window

    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    price = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.lag(price).over(w).cast("double").alias("prev_price"),
        F.sum(price).over(cum).cast("double").alias("cum_spend"),
    )


def a7_rollup(spark, sf):
    """ROLLUP over (returnflag, linestatus): per-group, per-flag and
    grand totals in one pass (the OLAP hierarchy aggregate)."""
    li = _t(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(qty).cast("double").alias("sum_qty"),
             F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


def a18_grouping_sets(spark, sf):
    """Explicit GROUPING SETS -- the general form rollup/cube are sugar
    for: exactly the (flag,status), (flag), and (status) groupings in
    one pass, no grand total (which neither rollup nor cube can express
    without emitting extra sets and filtering)."""
    li = _t(spark, sf, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
    """)


def a9_cube(spark, sf):
    """CUBE over (event_type, year): the full grouping-set lattice in
    one pass (rollup's sibling; subtotals along BOTH axes plus the
    grand total)."""
    ev = _t(spark, sf, "events")
    val = F.col("value").cast("decimal(18,2)")
    return (
        ev.cube("event_type", F.year("ts").alias("yr"))
        .agg(F.sum(val).cast("double").alias("sum_value"),
             F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


def v5_skew_report(spark, sf):
    """Shuffle-key skew diagnostic over the fact's join key."""
    from .report import skew_report

    return skew_report(_t(spark, sf, "lineitem"), ["l_suppkey"], top=20)


def v6_profile_table(spark, sf):
    """Column profile over orders (one-pass).  The gate projects the
    engine-stable facets; the HLL distinct estimate is
    implementation-specific, so it's asserted with tolerance in pytest
    instead of hash-compared."""
    from .report import profile_table

    prof = profile_table(
        _t(spark, sf, "orders"), ["o_orderstatus", "o_custkey", "o_orderpriority"]
    )
    return prof.select("column", "n_rows", "n_nulls", "min_str", "max_str")


def er_pipeline(spark, sf):
    """End-to-end entity resolution, composed from certified parts:
    banded linkage pairs -> connected components (star contraction) ->
    survivorship per resolved entity (canonical id = component min,
    mode market segment with lexicographic tie-break, member count,
    balance spread).  Unpaired customers resolve to themselves.

    The composition is the point: match -> cluster -> survive is the
    production ER stack, and each stage here is the scale-shaped tier
    (bounded blocks, O(log n) cc rounds, one-shuffle mode)."""
    from .graph import connected_components
    from .joins import linkage_pairs_banded

    c = _t(spark, sf, "customer")
    pairs = linkage_pairs_banded(
        c,
        block_on="c_nationkey",
        id_col="c_custkey",
        exact_fields=["c_mktsegment"],
        band_field=("c_acctbal", 50.0),
        threshold=1.5,
    ).select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b")
    members = c.join(
        cc, c["c_custkey"] == cc["node"], "left"
    ).select(
        F.coalesce(cc["component"], c["c_custkey"]).alias("entity_id"),
        c["c_custkey"],
        c["c_mktsegment"],
        c["c_acctbal"],
    )
    counts = members.groupBy("entity_id", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    from pyspark.sql import Window

    wm = Window.partitionBy("entity_id").orderBy(
        F.desc("__cnt"), F.asc("c_mktsegment")
    )
    mode_seg = (
        counts.withColumn("__rn", F.row_number().over(wm))
        .filter(F.col("__rn") == 1)
        .select("entity_id", F.col("c_mktsegment").alias("mode_segment"))
    )
    stats = members.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )
    return stats.join(mode_seg, "entity_id").filter(F.col("n_members") >= 2)


def j18b_linkage_banded(spark, sf):
    """Composite-blocked linkage (nation x balance-bucket): SAME result
    and SAME oracle as j18_linkage -- the lossless-optimization proof
    pattern -- with block sizes bounded at any table growth."""
    from .joins import linkage_pairs_banded

    c = _t(spark, sf, "customer")
    return linkage_pairs_banded(
        c,
        block_on="c_nationkey",
        id_col="c_custkey",
        exact_fields=["c_mktsegment"],
        band_field=("c_acctbal", 50.0),
        threshold=1.5,
    )


def j19_pit_lookup(spark, sf):
    """Point-in-time lookup (feature-store correctness shape): each
    lineitem resolves its customer's order-priority state AS OF its
    ship date against the d8 SCD2 history -- equi-join on custkey plus
    the half-open interval predicate, so no future state ever leaks
    into a training row."""
    from .scd import scd2_build

    o = _t(spark, sf, "orders")
    log = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("obs_date"),
        F.col("o_orderkey").alias("obs_id"),
        F.col("o_orderpriority").alias("priority"),
    )
    hist = scd2_build(log, key="custkey", order_col="obs_date",
                      attrs=["priority"], tiebreak="obs_id")
    facts = (
        _t(spark, sf, "lineitem")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.col("o_custkey").alias("custkey"),
            F.col("l_shipdate"),
        )
    )
    j = facts.join(
        hist,
        (facts["custkey"] == hist["custkey"])
        & (hist["valid_from"] <= facts["l_shipdate"])
        & (facts["l_shipdate"] < F.coalesce(hist["valid_to"], F.lit("9999-12-31").cast("date"))),
        "left",
    )
    return j.select(
        facts["l_orderkey"],
        facts["l_linenumber"],
        facts["custkey"],
        facts["l_shipdate"],
        hist["priority"].alias("pit_priority"),
    )


def j18_linkage(spark, sf):
    """Blocked record-linkage self-match over customer: block on
    nation, exact-agree on market segment, band-agree on acctbal
    (+-50); both agreements required at threshold 1.5."""
    from .joins import linkage_pairs

    c = _t(spark, sf, "customer")
    return linkage_pairs(
        c,
        block_on="c_nationkey",
        id_col="c_custkey",
        exact_fields=["c_mktsegment"],
        band_fields=[("c_acctbal", 50.0)],
        threshold=1.5,
    )


def d8_scd2(spark, sf):
    """SCD2 dimension history: each customer's order-priority
    observation log (ordered by orderdate, orderkey tiebreak)
    compresses into validity-interval runs; one shuffle, two stacked
    windows."""
    from .scd import scd2_build

    log = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("obs_date"),
        F.col("o_orderkey").alias("obs_id"),
        F.col("o_orderpriority").alias("priority"),
    )
    return scd2_build(log, key="custkey", order_col="obs_date",
                      attrs=["priority"], tiebreak="obs_id")


def d5_snapshot_diff(spark, sf):
    """Row-level snapshot diff (CDC delta extraction): 'old' drops every
    5th order and perturbs every 7th price; diff vs the current table
    yields added/removed/changed keys -- exactly the delta merge_upsert
    would re-apply."""
    from .io import snapshot_diff

    orders = _t(spark, sf, "orders")
    ok = F.col("o_orderkey")
    old = orders.filter(ok % 5 != 0).withColumn(
        "o_totalprice",
        F.when(ok % 7 == 0, F.col("o_totalprice") + 10).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(
        old, orders, ["o_orderkey"], compare_cols=["o_totalprice", "o_orderstatus"]
    )


def v7_expectations(spark, sf):
    """Declarative data-quality contract over orders, all rules folded
    into one aggregate scan: key uniqueness, null budget, value range,
    category membership, minimum volume."""
    from .report import check_expectations

    return check_expectations(
        _t(spark, sf, "orders"),
        [
            {"kind": "unique", "col": "o_orderkey"},
            {"kind": "not_null", "col": "o_custkey", "max_null_frac": 0.0},
            {"kind": "in_range", "col": "o_totalprice", "lo": 0, "hi": 1000000},
            {
                "kind": "in_set",
                "col": "o_orderpriority",
                "values": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            },
            {"kind": "min_rows", "n": 100},
        ],
    )


def a10_exact_median(spark, sf):
    """Exact interpolated median per group (percentile_cont semantics
    in both engines).  The exact tier costs a per-group sort; at 100 TB
    use the a5 approx_quantiles sketch unless exactness is required."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("median_value")
    )


def a8_pivot(spark, sf):
    """Pivot event counts per user into one column per event type.
    Values are enumerated explicitly -- an unbounded pivot would need a
    distinct-scan planning pass and an unstable schema."""
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)).cast("long"))
        .select("user_id", *[F.coalesce(F.col(t), F.lit(0).cast("long")).alias(f"n_{t}") for t in types])
    )


def u2_intersect(spark, sf):
    """Customer nations that also host suppliers (row-set INTERSECT)."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    su = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return intersect_rows(c, su)


def u3_except(spark, sf):
    """Parts with no shipment on/before the cutoff (row-set EXCEPT)."""
    all_parts = _t(spark, sf, "part").select(F.col("p_partkey").alias("partkey"))
    shipped = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1996-03-02 00:00:00"))
        .select(F.col("l_partkey").alias("partkey"))
    )
    return except_rows(all_parts, shipped)


def q14_promo_share(spark, sf):
    """TPC-H Q14 shape: conditional aggregate ratio over one join month."""
    li = _t(spark, sf, "lineitem").filter(
        P.between_dates("l_shipdate", "1996-03-01 00:00:00", "1996-03-31 23:59:59.999999")
    )
    part = _t(spark, sf, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0).cast("decimal(18,4)"))
    joined = li.join(part.select("p_partkey", "p_type"), li["l_partkey"] == F.col("p_partkey"))
    return joined.agg(
        (F.sum(promo).cast("double") * 100.0 / F.sum(rev).cast("double")).alias("promo_revenue_pct")
    )


def q6_forecast_revenue(spark, sf):
    """TPC-H Q6 shape: pure scan-side filter + single global aggregate.
    The whole predicate pushes to the parquet scan; one partial-agg +
    one-row final -- the minimal-shuffle analytics baseline."""
    li = _t(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q10_returned_items(spark, sf):
    """TPC-H Q10 shape: fact-fact join on the order key + customer/nation
    broadcast enrich + top-20 by lost revenue."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf, "orders").filter(
        P.between_dates("o_orderdate", "1996-10-01 00:00:00", "1996-12-31 23:59:59.999999")
    )
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    # customer scales with the data (AQE decides); nation is fixed-size.
    joined = (
        li.join(orders.select("o_orderkey", "o_custkey"), li["l_orderkey"] == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_name", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q5_nation_volume(spark, sf):
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").filter(
        P.between_dates("o_orderdate", "1996-01-01 00:00:00", "1996-12-31 23:59:59.999999")
    )
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    # supplier scales with the data (no forced broadcast; AQE decides);
    # nation is a FIXED 25-row table -- broadcast is always right there.
    joined = (
        li.join(orders.select("o_orderkey"), li["l_orderkey"] == F.col("o_orderkey"))
        .join(supp.select("s_suppkey", "s_nationkey"), li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(nat.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(F.sum(revenue).cast("double").alias("revenue"))


def q7_nation_trade(spark, sf):
    """TPC-H Q7 shape: bilateral trade volume between two nations, by
    ship year.  The nation filter is applied to supplier/customer BEFORE
    they touch the fact table, so the big joins see only the selected
    slice; nation itself is fixed-size and broadcast."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    nat = _t(spark, sf, "nation").filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    supp = (
        _t(spark, sf, "supplier")
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                                     F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        _t(spark, sf, "customer")
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("cn_key"),
                                     F.col("n_name").alias("cust_nation"))),
              F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey", "cust_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    joined = (
        li.join(orders.select("o_orderkey", "o_custkey"), li["l_orderkey"] == F.col("o_orderkey"))
        .join(supp, li["l_suppkey"] == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q8_market_share(spark, sf):
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue sold to a
    region's customers, per order year (conditional-aggregate ratio over
    a 6-table join).  Region/nation are fixed-size broadcasts; the
    customer region restriction is pre-joined so the fact join is
    already selective."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    orders = _t(spark, sf, "orders")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eur_keys = (
        nat.join(F.broadcast(reg.select("r_regionkey")),
                 nat["n_regionkey"] == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("eu_key"))
    )
    cust_eu = (
        _t(spark, sf, "customer")
        .join(F.broadcast(eur_keys), F.col("c_nationkey") == F.col("eu_key"))
        .select("c_custkey")
    )
    supp = (
        _t(spark, sf, "supplier")
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"),
                                     F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    n5 = F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0).cast("decimal(18,4)"))
    joined = (
        li.join(part, li["l_partkey"] == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              li["l_orderkey"] == F.col("o_orderkey"))
        .join(cust_eu, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, li["l_suppkey"] == F.col("s_suppkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(n5).cast("double") / F.sum(rev).cast("double")).alias("mkt_share"))
    )


def q13_order_distribution(spark, sf):
    """TPC-H Q13 shape: customer order-count distribution.  LEFT OUTER
    join keeps zero-order customers, then a double aggregation
    (per-customer count, then histogram of counts)."""
    cust = _t(spark, sf, "customer").select("c_custkey")
    orders = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") != "P")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
    )


def q15_top_supplier(spark, sf):
    """TPC-H Q15 shape: supplier(s) with the maximum half-year revenue.
    The scalar max is a 1-row broadcast joined back on exact DECIMAL
    equality (float equality would be nondeterministic)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00"))
    )
    supp = _t(spark, sf, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    srev = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_rev_dec"))
    mx = srev.agg(F.max("total_rev_dec").alias("mx"))
    return (
        srev.join(F.broadcast(mx), F.col("total_rev_dec") == F.col("mx"))
        .join(supp.select("s_suppkey", "s_name"), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_rev_dec").cast("double").alias("total_rev"))
    )


def q17_small_qty_revenue(spark, sf):
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    half the per-part average.  The correlated AVG subquery becomes a
    window aggregate over the part key -- ONE scan + one shuffle instead
    of the self-join's two (quantities are integral doubles, so the avg
    is exact and order-independent in both engines)."""
    from pyspark.sql import Window

    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    part_li = li.join(part, li["l_partkey"] == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    flagged = part_li.withColumn("avg_qty", F.avg("l_quantity").over(w))
    return (
        flagged.filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / 2.0)
             .alias("avg_yearly"))
    )


def q18_large_orders(spark, sf):
    """TPC-H Q18 shape: large-volume orders -- HAVING on an order-level
    quantity sum, then enrich with orders/customer and take a
    deterministic top-100."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("total_qty_dec"))
        .filter(F.col("total_qty_dec") > 150)
    )
    joined = (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(cust.select("c_custkey", "c_name"), orders["o_custkey"] == F.col("c_custkey"))
    )
    return (
        joined.select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
                      F.col("total_qty_dec").cast("double").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q19_disjunctive(spark, sf):
    """TPC-H Q19 shape: disjunction of (brand, size-range, qty-range)
    branches over the part join.  The brand IN-list is applied to part
    before the join so the scan prunes; the residual OR stays a single
    Catalyst predicate (no union-of-three-scans)."""
    li = _t(spark, sf, "lineitem")
    part = (
        _t(spark, sf, "part")
        .filter(F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#24"))
        .select("p_partkey", "p_brand", "p_size")
    )
    joined = li.join(part, li["l_partkey"] == F.col("p_partkey"))
    branch = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return joined.filter(branch).agg(F.sum(rev).cast("double").alias("revenue"))


def q12_priority_class(spark, sf):
    """TPC-H Q12 shape: two conditional counts (high/low priority) per
    group over the order join, one pass."""
    li = _t(spark, sf, "lineitem").filter(
        P.between_dates("l_shipdate", "1996-01-01 00:00:00", "1996-12-31 23:59:59.999999")
    )
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = li.select("l_orderkey", "l_returnflag").join(
        orders, li["l_orderkey"] == F.col("o_orderkey")
    )
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_count"),
        F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_count"),
    )


def q16_supplier_variety(spark, sf):
    """TPC-H Q16 shape: distinct-supplier count per (brand, size) with a
    NOT-IN supplier exclusion.  The exclusion list is tiny (negative
    balances) -> broadcast LEFT ANTI before the part join; keys are
    non-null so anti-join is exactly NOT IN."""
    li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        _t(spark, sf, "part")
        .filter(F.col("p_type") != "PROMO")
        .select("p_partkey", "p_brand", "p_size")
    )
    bad = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    cleaned = li.join(F.broadcast(bad), li["l_suppkey"] == F.col("s_suppkey"), "left_anti")
    joined = cleaned.join(part, F.col("l_partkey") == F.col("p_partkey"))
    return (
        joined.groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def q20_excess_shippers(spark, sf):
    """TPC-H Q20 shape: suppliers with an over-threshold (supplier, part)
    shipped-quantity sum in the window -- aggregate HAVING subquery
    consumed through a LEFT SEMI join (never materializes the fact)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00"))
    )
    supp = _t(spark, sf, "supplier")
    heavy = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
        .filter(F.col("q") > 60)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(heavy, supp["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_nationkey")
    )


def q22_dormant_wealthy(spark, sf):
    """TPC-H Q22 shape: above-average-balance customers with no urgent
    orders (scalar-avg threshold + anti-join).  The avg comparison is
    cross-multiplied on exact decimals (bal*n > sum) so no
    float-division boundary can flip a row between engines."""
    cust = _t(spark, sf, "customer")
    urgent = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    thresh = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(bal).alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(bal * F.col("n") > F.col("s"))
        .join(urgent, cust["c_custkey"] == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


def q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape: per-part minimum-cost supplier (correlated scalar
    MIN + re-join), with lineitem's distinct (part, supplier) pairs
    standing in for partsupp and acctbal for supplycost.  The correlated
    subquery becomes a window MIN over the part key -- one shuffle, no
    self-join; the min is a selection (not arithmetic) so double
    equality is exact.  Ties keep every minimum supplier, same set in
    both engines."""
    from pyspark.sql import Window

    pairs = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = (
        _t(spark, sf, "part")
        .filter(F.col("p_size").between(10, 20))
        .select("p_partkey", "p_brand")
    )
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    joined = (
        pairs.join(part, pairs["l_partkey"] == F.col("p_partkey"))
        .join(supp, pairs["l_suppkey"] == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal")
    )


def q9_product_profit(spark, sf):
    """TPC-H Q9 shape: product-type profit by nation and order year.
    The test tables carry no partsupp/ps_supplycost, so profit is the
    revenue side only -- the PLAN shape is the faithful part: p_name
    substring filter pre-pushed into the part scan, lineitem joined to
    the filtered part + supplier + orders, fixed nation broadcast,
    group by (nation, year)."""
    li = _t(spark, sf, "lineitem")
    part = (
        _t(spark, sf, "part")
        .filter(F.col("p_name").contains("ol"))
        .select("p_partkey")
    )
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    joined = (
        li.join(part, li["l_partkey"] == F.col("p_partkey"))
        .join(supp, li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders, li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


def q11_important_stock(spark, sf):
    """TPC-H Q11 shape: per-(nation, part) value share with a HAVING
    against a global scalar.  lineitem extendedprice stands in for
    partsupp supply value (no partsupp table).  The global total rides
    a broadcast of one row; the threshold compare cross-multiplies
    exact decimals (val * 10000 > total) so no float division boundary
    exists between engines."""
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    val = (F.col("l_extendedprice").cast("decimal(18,4)"))
    per_part = (
        li.join(supp, li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("l_partkey").alias("partkey"))
        .agg(F.sum(val).alias("val_dec"))
    )
    total = per_part.agg(F.sum("val_dec").alias("total_dec"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("val_dec") * 10000 > F.col("total_dec"))
        .select("nation", "partkey", F.col("val_dec").cast("double").alias("value"))
    )


def q21_waiting_supplier(spark, sf):
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier order.  No l_commitdate/l_receiptdate in the test
    tables, so "late" is l_shipdate > o_orderdate + 60 days; the shape
    is the faithful part: the EXISTS/NOT-EXISTS pair over sibling
    lineitems collapses to one groupBy(order, supplier) + one window
    over the order -- two shuffles total, no fact self-joins.  Top-100
    with s_name tiebreak keeps the set deterministic."""
    from pyspark.sql import Window

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    per_supp = (
        li.join(orders, li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.select(
        "l_suppkey",
        "late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("late").over(w).alias("n_late"),
    ).filter((F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    supp = (
        _t(spark, sf, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        flagged.join(supp, flagged["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


def s12_zorder_profile(spark, sf):
    """Z-order layout locality profile: Morton-interleave
    (l_partkey, l_suppkey), split the occupied key range
    into 64 contiguous curve segments (~ output files) and report each
    segment's count + min/max of BOTH dimensions -- the min/max
    tightness that makes parquet row-group pruning work on two columns
    at once.  The interleave expression text is shared verbatim with
    the oracle."""
    from .layout import zbucket_profile

    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    return zbucket_profile(li, "l_partkey", "l_suppkey", bits=16, n_buckets=64)


def s24_hilbert_profile(spark, sf):
    """Hilbert-curve layout locality profile (layout.hbucket_profile):
    the Z-order twin with a strictly-connected curve -- every
    contiguous key segment is ONE region, so per-file min/max stats
    are at least as tight as Morton's.  The DFA walk folds via the
    aggregate HOF (runtime loop, no UDF, no expression blowup); the
    oracle re-derives the identical key with per-level nested
    subqueries in DuckDB."""
    from .layout import hbucket_profile

    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    return hbucket_profile(li, "l_partkey", "l_suppkey", bits=16, n_buckets=64)


SQL3_TEXT = """
    WITH bulky AS (
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_quantity >= 45)
    )
    SELECT o_custkey,
           o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
           CAST(n_bulky AS BIGINT) AS n_bulky
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_custkey) AS n_bulky
      FROM bulky
    ) WHERE rn = 1
"""


SQL4_TEXT = """
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance,
           CAST(grouping(r_name) AS BIGINT) AS g_region,
           CAST(grouping(n_name) AS BIGINT) AS g_nation
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE c_acctbal > 0
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
"""


def sql4_grouping_sets(spark, sf):
    """SQL surface, multi-granularity shape: a 3-level GROUPING SETS
    rollup (region x nation, region, grand total) with grouping()
    disambiguators -- the IDENTICAL SQL text runs on both engines
    (the sql1/sql2/sql3 contract, extended to the OLAP cube surface)."""
    from .sql_api import run_sql

    return run_sql(spark, sf, SQL4_TEXT)


def sql3_exists_cte(spark, sf):
    """SQL surface, subquery shape: CTE + correlated EXISTS (planned as
    a left-semi join) + two window functions -- the IDENTICAL SQL text
    runs on both engines.  Each customer's single priciest order among
    orders containing a bulk line (qty >= 45)."""
    from .sql_api import run_sql

    return run_sql(spark, sf, SQL3_TEXT)


SQL2_TEXT = """
    SELECT c_mktsegment, c_custkey, c_acctbal, seg_rank, running_bal
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY c_acctbal DESC, c_custkey) AS BIGINT)
               AS seg_rank,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                    OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_bal
      FROM customer
    ) WHERE seg_rank <= 10
"""


def sql2_window_rank(spark, sf):
    """SQL surface, window-function shape: per-segment top-10 customers
    by balance with an exact decimal running sum -- the IDENTICAL SQL
    text runs on both engines."""
    from .sql_api import run_sql

    return run_sql(spark, sf, SQL2_TEXT)


def sql1_priority_revenue(spark, sf):
    """The engine's SQL surface: the same catalog queried through
    spark.sql text (dbt-style / warehouse-migration entry point).
    Catalyst plans SQL and DataFrame calls identically, so pushdown /
    broadcast / AQE behavior matches the DataFrame twin."""
    from .sql_api import run_sql

    return run_sql(
        spark,
        sf,
        """
        SELECT o.o_orderpriority,
               CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        """,
    )


def a17_sketch_union(spark, sf):
    """Mergeable HLL rollup: daily per-type user sketches unioned to a
    whole-range distinct estimate.  md5-register sketches -> the DuckDB
    oracle re-derives registers and VALUE-checks the estimates;
    tolerance vs exact additionally asserted in tests."""
    from .aggregates import sketch_merge_distinct

    ev = _t(spark, sf, "events").withColumn("day", F.to_date("ts"))
    return sketch_merge_distinct(ev, "day", "event_type", "user_id")


def a16_group_sample(spark, sf):
    """Deterministic per-key sample: the k=3 orders per priority with
    the smallest affine-mixed key -- a reservoir-sample stand-in whose
    membership is a pure function of the key (reproducible across
    reruns/engines, unlike rand()).  One shuffle; per-group state is
    bounded by k via the rank window."""
    from pyspark.sql import Window

    o = _t(spark, sf, "orders")
    mix = F.pmod(
        F.pmod(F.col("o_orderkey").cast("long"), F.lit(2147483648))
        * F.lit(2654435761)
        + F.lit(12345),
        F.lit(1000000007),
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        mix.asc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


def w_wau_hll(spark, sf):
    """Scale tier of w_dau_wau: sliding-window distinct via per-day HLL
    sketches merged across each trailing 7-day window
    (streaming/windows.sliding_distinct_hll) -- sketches build once and
    REUSE across overlapping windows, the incremental-rollup shape.
    md5-register sketches -> the DuckDB oracle VALUE-checks the
    estimates; pytest additionally bounds them against the exact
    tier."""
    from .streaming.windows import sliding_distinct_hll

    ev = _t(spark, sf, "events")
    return sliding_distinct_hll(ev)


def w_dau_wau(spark, sf):
    """Product stickiness: per day, the distinct active users that day
    (DAU), in the trailing 7-day window (WAU), and the DAU/WAU ratio.
    WAU is computed by exploding each (user, day) activity into the 7
    report days it supports -- turning distinct-over-window into a
    plain groupBy count_distinct, the shuffle-friendly form -- then
    the ratio divides exact longs."""
    ev = _t(spark, sf, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count_distinct("user_id").cast("long").alias("dau"))
    support = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.expr("INTERVAL 6 DAYS"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    wau = support.groupBy("day").agg(
        F.count_distinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias("stickiness"),
        )
    )


def w_hourly_profile(spark, sf):
    """Seasonality profile: per event type, the hour-of-day volume and
    its share of the type's total -- the load-shaping curve capacity
    planning reads.  One (type, hour) groupBy; shares are exact-long
    divisions over the per-type window."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    per = ev.groupBy(
        "event_type", F.hour(F.col("ts").cast("timestamp")).cast("int").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = Window.partitionBy("event_type")
    return per.select(
        "event_type",
        "hour",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(tot).cast("double")).alias("share"),
    )


def w_inter_event_stats(spark, sf):
    """Per-event-type inter-arrival statistics across each user stream:
    exact median and max gap seconds.  The operational heartbeat
    metric behind rate alerting; gaps are floor-exact long seconds and
    the percentile is percentile_cont on both engines."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_s = F.floor(
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
        )
        / 1_000_000
    ).cast("long")
    gaps = ev.withColumn("gap_s", gap_s).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.percentile("gap_s", F.lit(0.5)).alias("median_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


def w_unconverted(spark, sf):
    """Absence detection (negative funnel): every click with NO
    purchase by the same user within the following hour.  Composes the
    as-of forward join -- the next purchase per click rides one
    union+window pass -- then keeps rows where the match is missing or
    too late; no NOT-EXISTS anti-join over the fact table."""
    from .joins import asof_join_forward

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts"), F.col("event_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.col("event_id").alias("purchase_id")
    )
    j = asof_join_forward(
        clicks, purchases, by="user_id", ts="ts", value_cols=["purchase_id"],
        right_ts_alias="purchase_ts",
    )
    lag_us = F.unix_micros(F.col("purchase_ts").cast("timestamp")) - F.unix_micros(
        F.col("ts").cast("timestamp")
    )
    return (
        j.filter(F.col("purchase_ts").isNull() | (lag_us > 3600 * 1_000_000))
        .select("user_id", "event_id", F.col("ts").alias("click_ts"))
    )


def w_session_stats(spark, sf):
    """Composed session-length distribution: 30-min-gap sessionization
    -> per-session duration seconds -> corpus stats per event-type-mix
    bucket is overkill, so the grain is per user: n_sessions, exact
    median/mean/max duration.  Certifies sessionize composed with the
    exact-percentile aggregate (percentile_cont semantics both
    engines); durations are exact long second differences."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    )
    flagged = ev.withColumn(
        "__new", F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), 1).otherwise(0)
    )
    sid = F.sum("__new").over(
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = (
        flagged.withColumn("__sid", sid)
        .groupBy("user_id", "__sid")
        .agg(
            F.floor(
                (
                    F.unix_micros(F.max("ts").cast("timestamp"))
                    - F.unix_micros(F.min("ts").cast("timestamp"))
                )
                / 1_000_000
            ).cast("long").alias("dur_s")
        )
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.percentile("dur_s", F.lit(0.5)).alias("median_dur_s"),
        F.max("dur_s").alias("max_dur_s"),
    )


def v8_freshness(spark, sf):
    """V-family -- freshness/completeness canary: per-day event volumes
    vs the trailing-7-day mean baseline, gap days flagged."""
    from .report import check_freshness

    return check_freshness(_t(spark, sf, "events"))


def w_transitions(spark, sf):
    """First-order Markov transition matrix over per-user event
    streams: (from_type, to_type, n, p) where p row-normalizes each
    from-state.  lead() over (user, ts, event_id) rides one shuffle;
    the matrix itself is event-type-cardinality-squared -- metadata
    scale -- so the normalizing window is tiny.  p divides exact longs
    (bit-identical doubles across engines)."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    mat = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w2 = Window.partitionBy("from_type")
    return mat.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w2).cast("double")).alias("p"),
    )


def w_event_paths(spark, sf):
    """Ordered per-user-day event paths (sequence-mining primitive):
    event types concatenated in (ts, event_id) order.  One keyed
    aggregate; the in-group ordering rides array_sort on a packed
    struct, not a global sort."""
    ev = _t(spark, sf, "events")
    packed = F.struct(
        F.col("ts"), F.col("event_id"), F.col("event_type")
    )
    return (
        ev.groupBy(
            F.col("user_id"), F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(packed)),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
        )
    )


def a15_ntile(spark, sf):
    """Equal-frequency binning: acctbal quartile per market segment
    (SQL-standard NTILE, totally ordered by (balance, key) so bucket
    edges are deterministic).  One shuffle on the segment key; the
    per-group sort is the cost -- for approximate production binning at
    100 TB use a5_approx_quantiles cut points instead."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def w_top_types(spark, sf):
    """Per-window grouped top-k: the 2 busiest event types in every
    6-hour tumbling window (count desc, type asc -- total order).  The
    rank window rides the same (window-start) partitioning as the count
    aggregate's shuffle output; k bounds the result, not the input."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    counts = (
        ev.groupBy(
            F.window("ts", "6 hours").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )
    )
    rk = Window.partitionBy("w_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(rk).cast("long"))
        .filter(F.col("rk") <= 2)
    )


def j14_interval_join(spark, sf):
    """Batch range/interval join via bucketization: click events joined
    to 10-minute post-purchase windows per user as a plain equi join on
    (bucket, user) -- never a BroadcastNestedLoop theta-join.  Window
    aggregates route the double sum through DECIMAL for cross-engine
    stability."""
    from .joins import interval_join

    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("win_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    j = interval_join(
        clicks, purchases, "ts", "w_start", "w_end",
        keys=["user_id"], bucket_seconds=300,
    )
    return j.groupBy("win_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def _skew_fact_dim(spark, sf):
    """Synthetic hot-key workload: 80% of lineitem rows land on ONE join
    key ('HOT'); the rest spread over 1000 keys matching a 1000-row dim.
    The dim also deliberately lacks 'HOT' so unmatched-left rows are
    exercised."""
    li = _t(spark, sf, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 8, F.lit("HOT"))
        .otherwise(F.concat(F.lit("K"), (F.col("l_orderkey") % 1000).cast("string")))
        .alias("skew_key"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    dim = spark.range(1000).select(
        F.concat(F.lit("K"), F.col("id").cast("string")).alias("skew_key"),
        F.concat(F.lit("P"), F.col("id").cast("string")).alias("payload"),
    )
    return fact, dim


def _skew_rollup(joined):
    return joined.groupBy("skew_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("payload").cast("long").alias("n_matched"),
        F.sum("qty").cast("double").alias("sum_qty"),
    )


def j15_skew_salted(spark, sf):
    """Hot-key left join through salted_left_join: the fact side gets a
    random salt in [0,8), the dim is replicated 8x, so the 80%-hot key
    spreads over 8 reduce partitions instead of one straggler.  The
    rollup output is salt-invariant, hence exactly DuckDB-oracled
    (same SQL as the unsalted j15_skew_plain A/B twin)."""
    from .joins import salted_left_join

    fact, dim = _skew_fact_dim(spark, sf)
    return _skew_rollup(salted_left_join(fact, dim, "skew_key", salt=8))


def j15_skew_plain(spark, sf):
    """A/B baseline for j15_skew_salted: identical workload, plain left
    join (one reduce partition owns the hot key when the dim doesn't
    broadcast)."""
    fact, dim = _skew_fact_dim(spark, sf)
    return _skew_rollup(fact.join(dim, "skew_key", "left"))


def j16_bloom_semi(spark, sf):
    """Bloom-pruned semi join: lineitem rows whose order is URGENT.

    The URGENT key set is compressed into a 2^20-bit bitmap (one row,
    ~128 KiB) built with pure DataFrame ops (explode -> bit_or words),
    broadcast, and applied to the fact BEFORE its shuffle; the exact
    left-semi join then removes bloom false positives, so the result is
    EXACTLY `l_orderkey IN (urgent orders)` -- which is the DuckDB
    oracle.  At 100 TB this is the shape for fact-vs-large-key-set
    filters where the key set cannot broadcast but its bitmap can."""
    from .joins import bloom_semi_join

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey", "l_extendedprice")
    urgent = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    return bloom_semi_join(li, urgent, {"l_orderkey": "o_orderkey"}, num_bits=1 << 18)


def j17_band_join(spark, sf):
    """Numeric band self-join: same-user event pairs with values within
    0.01 of each other -- bucket-quantized equi join + refine, never a
    theta join."""
    from .joins import band_join

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    left = ev
    right = ev.withColumnRenamed("event_id", "r_event_id")
    out = band_join(left, right, "value", 0.01, keys=["user_id"]).filter(
        F.col("event_id") < F.col("r_event_id")
    )
    return out.select("event_id", "r_event_id", "user_id", "value", "r_value")


def a24_quantile_sketch(spark, sf):
    """Mergeable quantile rollup: per-(event_type, day) histogram
    sketches folded to per-type p50/p95 estimates.  Fixed-bin
    arithmetic is pure IEEE double with a fixed op order, so the DuckDB
    oracle replicates the binning and VALUE-checks the estimates; the
    bin-width error bound vs exact percentiles stays in pytest."""
    from .aggregates import quantile_sketch_merge

    ev = load_table(spark, sf, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts").cast("timestamp"))
    )
    return quantile_sketch_merge(ev, "event_type", "day", "value", qs=(0.5, 0.95))


def a19_cms_counts(spark, sf):
    """Count-min sketch frequency estimation: per-user event counts
    estimated from a bounded (4 x 4096)-cell md5-hex sketch instead of
    an exact per-key count table.  Cells are md5 prefixes, so the
    DuckDB oracle re-derives the sketch and VALUE-checks every
    estimate; the est >= exact upper-bound property and merge law are
    additionally asserted in tests/test_joins_dedup_agg.py."""
    from .aggregates import cms_build, cms_estimate

    ev = load_table(spark, sf, "events")
    cms = cms_build(ev, "user_id", hex_chars=3, depth=4)
    users = ev.select("user_id").dropDuplicates()
    return cms_estimate(cms, users, "user_id", hex_chars=3, depth=4)


def a22_spearman(spark, sf):
    """Exact Spearman rank correlation per event type (value vs hour of
    day): mid-rank ties, decimal power sums, IEEE finish."""
    from .aggregates import group_spearman

    ev = _t(spark, sf, "events").select(
        "event_type", F.col("value"), F.hour("ts").cast("double").alias("hod")
    )
    return group_spearman(ev, "event_type", "value", "hod")


def a23_pivot_dynamic(spark, sf):
    """Dynamic pivot: column set discovered from the data (Spark's
    two-pass pivot -- a bounded distinct-scan planning pass, capped by
    spark.sql.pivotMaxValues, then the enumerated pivot).  Columns are
    re-projected in sorted order with null->0 so the output schema is
    deterministic regardless of discovery order."""
    ev = _t(spark, sf, "events")
    out = ev.groupBy("user_id").pivot("event_type").agg(
        F.count(F.lit(1)).cast("long")
    )
    types = sorted(c for c in out.columns if c != "user_id")
    return out.select(
        "user_id",
        *[F.coalesce(F.col(f"`{t}`"), F.lit(0).cast("long")).alias(f"n_{t}") for t in types],
    )


def a20_winsorize(spark, sf):
    """Per-event-type winsorization of event values to the exact
    [5%, 95%] group percentiles (quantile_cont parity with DuckDB)."""
    from .aggregates import winsorize

    ev = _t(spark, sf, "events")
    return winsorize(ev, "event_type", "value").select(
        "event_id", "event_type", "value", "value_wins"
    )


def a21_robust_zscore(spark, sf):
    """Median/MAD robust z-score per event type -- outlier-resistant
    standardization with exact medians in both engines."""
    from .aggregates import robust_zscore

    ev = _t(spark, sf, "events")
    return robust_zscore(ev, "event_type", "value").select(
        "event_id", "event_type", "value", "robust_z"
    )


def a14_histogram(spark, sf):
    """Equal-width gap-filled histogram (16 bins) over event values:
    two single-row-broadcast passes, shuffle volume = nbins."""
    from .aggregates import histogram

    return histogram(_t(spark, sf, "events"), "value", nbins=16)


def g1_pagerank(spark, sf):
    """Fixed-iteration PageRank (3 sync iterations, d=0.85) over the
    distinct supplier->customer fulfillment graph; per-edge
    contributions summed as DECIMAL(38,18) so the unrolled-SQL oracle
    matches bit-for-bit."""
    from .graph import pagerank

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, iterations=3, damping=0.85).withColumnRenamed(
        "rank", "pr"
    )


def g2_connected_components(spark, sf):
    """Connected components (alternating large-star/small-star,
    O(log n) rounds) over the sparse high-quantity fulfillment graph.
    The oracle is an independent recursive-CTE reachability closure."""
    from .graph import connected_components

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 48).select(
        "l_orderkey", "l_suppkey"
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return connected_components(edges)


def g6_bfs_hops(spark, sf):
    """Multi-source BFS hop counts (cap 4) over the g2 sparse
    fulfillment graph, sources = suppliers with suppkey % 50 == 0.
    Oracle: hop-capped recursive-CTE walk with min-fold."""
    from .graph import bfs_hops

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 48).select(
        "l_orderkey", "l_suppkey"
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    sources = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_suppkey") % 50 == 0)
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    # only sources that are actually in the graph participate (others
    # are isolated hop-0 rows on both sides -- keep them for parity)
    return bfs_hops(edges, sources, max_hops=4)


def g14_betweenness(spark, sf):
    """Sampled Brandes betweenness over the g6 fulfillment graph,
    sources = suppliers with suppkey % 50 == 0, depth cap 4 -- the
    standard source-sampled estimator; exact-by-construction per
    source (pytest proves all-sources mode equals a pure-Python
    Brandes).  VALUE-checked: the depth cap unrolls the sigma/delta
    recurrence into four forward + four backward materialized SQL
    stages (see oracles_core.py)."""
    from .graph import betweenness_approx

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 48).select(
        "l_orderkey", "l_suppkey"
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    sources = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_suppkey") % 50 == 0)
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    return betweenness_approx(edges, sources, max_depth=4)


def g7_shortest_paths(spark, sf):
    """Hop-capped (4) weighted shortest paths over the fulfillment
    graph; integer edge weights derived from the keys so min-cost sums
    are exact on both engines."""
    from .graph import shortest_paths

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 48).select(
        "l_orderkey", "l_suppkey"
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
            ((F.col("l_suppkey") % 5) + (F.col("o_custkey") % 3) + 1)
            .cast("long")
            .alias("w"),
        )
        .distinct()
    )
    sources = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_suppkey") % 50 == 0)
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    return shortest_paths(edges, sources, max_hops=4)


def g5_label_propagation(spark, sf):
    """Two-round synchronous label propagation (deterministic min-label
    ties) over the same high-quantity fulfillment graph as g2; oracle
    unrolls both rounds in SQL."""
    from .graph import label_propagation

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 48).select(
        "l_orderkey", "l_suppkey"
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return label_propagation(edges, iterations=2)


def g3_triangle_count(spark, sf):
    """Global triangle count on the co-supplier graph (suppliers
    sharing a part on high-quantity lineitems).  Spark side runs the
    degree-ordered orientation (bounded wedge fan-out); the oracle is
    the canonical a<b<c three-way self-join, which is only feasible
    because the oracle runs at sf0.01."""
    from .graph import triangle_count

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 45).select(
        "l_partkey", "l_suppkey"
    ).distinct()
    a = li.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sb"))
    edges = (
        a.join(b, "pk")
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    return triangle_count(edges)


def g4_degree_stats(spark, sf):
    """Per-node in/out/total degree of the directed distinct
    supplier->customer fulfillment graph (the skew probe you run
    before choosing a partitioning strategy)."""
    from .graph import degree_stats

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return degree_stats(edges)


CORE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "flagship": flagship,
    "g2_connected_components": g2_connected_components,
    "g5_label_propagation": g5_label_propagation,
    "g6_bfs_hops": g6_bfs_hops,
    "g7_shortest_paths": g7_shortest_paths,
    "g3_triangle_count": g3_triangle_count,
    "g4_degree_stats": g4_degree_stats,
    "j14_interval_join": j14_interval_join,
    "j15_skew_salted": j15_skew_salted,
    "j15_skew_plain": j15_skew_plain,
    "j16_bloom_semi": j16_bloom_semi,
    "j17_band_join": j17_band_join,
    "a19_cms_counts": a19_cms_counts,
    "a20_winsorize": a20_winsorize,
    "a21_robust_zscore": a21_robust_zscore,
    "a22_spearman": a22_spearman,
    "a23_pivot_dynamic": a23_pivot_dynamic,
    "a24_quantile_sketch": a24_quantile_sketch,
    "a15_ntile": a15_ntile,
    "a16_group_sample": a16_group_sample,
    "sql1_priority_revenue": sql1_priority_revenue,
    "sql2_window_rank": sql2_window_rank,
    "a17_sketch_union": a17_sketch_union,
    "w_event_paths": w_event_paths,
    "w_transitions": w_transitions,
    "v8_freshness": v8_freshness,
    "w_session_stats": w_session_stats,
    "w_unconverted": w_unconverted,
    "w_inter_event_stats": w_inter_event_stats,
    "w_hourly_profile": w_hourly_profile,
    "w_dau_wau": w_dau_wau,
    "w_wau_hll": w_wau_hll,
    "w_top_types": w_top_types,
    "a14_histogram": a14_histogram,
    "g1_pagerank": g1_pagerank,
    "p1_contains_ci": p1,
    "p2_rlike_bounded": p2,
    "p3_in_list": p3,
    "p4_eq_ci": p4,
    "p5_first_match": p5,
    "p6_date_range": p6,
    "p7_eq_filter": p7,
    "p8_projection": p8,
    "p9_drop_tolerant": p9,
    "p10_dup_columns": p10,
    "j1_broadcast_left": j1,
    "j2_diff_keys": j2,
    "j3_rename_drop": j3,
    "j4_safe_merge": j4,
    "j5_fact_dim": j5,
    "j6_fact_dim2": j6,
    "j7_row_join": j7,
    "j8_composite_key": j8,
    "j9_dict_map": j9,
    "a1_mode": a1,
    "a2_min_max": a2,
    "a3_count": a3,
    "d1_dedup_projection": d1,
    "d2_business_key_dedup": d2,
    "d3_full_row_dedup": d3,
    "d4_keep_first": d4,
    "e1_clean_headers": e1,
    "e2_ensure_string": e2,
    "e3_strip_decimal": e3,
    "e4_concat_key_nullprop": e4,
    "e5_concat_plain": e5,
    "e6_prefix": e6,
    "e7_split_first": e7,
    "e8_to_ts_coerce": e8,
    "e9_coalesce": e9,
    "e10_keep_or_replace": e10,
    "e11_null_blank_default": e11,
    "e12_ensure_column": e12,
    "e13_rename": e13,
    "e14_strip_all": e14,
    "e15_output_contract": e15,
    "e16_finalize": e16,
    "u1_union_by_name": u1,
    "v1_fanout_guard": v1,
    "v2_schema_check": v2,
    "v3_tolerant_warnings": v3,
    "v4_table_counts": v4,
    "s2_catalog": s2,
    "s3_excel_roundtrip": s3_excel_roundtrip,
    "s4_csv_scan": s4,
    "s5_csv_sink": s5,
    "s7_stamped_name": s7,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_nation_volume": q5_nation_volume,
    "a6_window_analytics": a6_window_analytics,
    "a7_rollup": a7_rollup,
    "a8_pivot": a8_pivot,
    "a9_cube": a9_cube,
    "a18_grouping_sets": a18_grouping_sets,
    "a10_exact_median": a10_exact_median,
    "v5_skew_report": v5_skew_report,
    "v6_profile_table": v6_profile_table,
    "v7_expectations": v7_expectations,
    "d5_snapshot_diff": d5_snapshot_diff,
    "d8_scd2": d8_scd2,
    "j18_linkage": j18_linkage,
    "j19_pit_lookup": j19_pit_lookup,
    "j18b_linkage_banded": j18b_linkage_banded,
    "er_pipeline": er_pipeline,
    "d6_merge_upsert": d6_merge_upsert,
    "d7_merge_additive": d7_merge_additive,
    "s11_orc_roundtrip": s11_orc_roundtrip,
    "s23_xlsx_source": s23_xlsx_source,
    "s24_hilbert_profile": s24_hilbert_profile,
    "e24_variant_json": e24_variant_json,
    "s13_partition_prune": s13_partition_prune,
    "s14_compact": s14_compact,
    "s16_time_travel": s16_time_travel,
    "s17_evolving_read": s17_evolving_read,
    "s18_range_sorted": s18_range_sorted,
    "s19_vacuum": s19_vacuum,
    "s20_version_changes": s20_version_changes,
    "s25_cdc_images": s25_cdc_images,
    "s26_sketch_rollup": s26_sketch_rollup,
    "s27_bucketed_join": s27_bucketed_join,
    "s28_dpp_join": s28_dpp_join,
    "s31_zonemap_prune": s31_zonemap_prune,
    "s32_compaction": s32_compaction,
    "g15_scc": g15_scc,
    "v17_dp_counts": v17_dp_counts,
    "w_seasonal_decompose": w_seasonal_decompose,
    "s29_join_ivm": s29_join_ivm,
    "s30_join_ivm_zset": s30_join_ivm_zset,
    "sql4_grouping_sets": sql4_grouping_sets,
    "w_mk_trend": w_mk_trend,
    "w_theil_sen": w_theil_sen,
    "w_acf": w_acf,
    "g16_bipartite_projection": g16_bipartite_projection,
    "w_runs_test": w_runs_test,
    "v9_profile_drift": v9_profile_drift,
    "g8_kcore": g8_kcore,
    "g9_personalized_pr": g9_personalized_pr,
    "g10_adamic_adar": g10_adamic_adar,
    "a38_weighted_median": a38_weighted_median,
    "g11_modularity": g11_modularity,
    "v10_reconcile": v10_reconcile,
    "e21_quarantine": e21_quarantine,
    "v11_k_anonymity": v11_k_anonymity,
    "e22_pseudonymize": e22_pseudonymize,
    "v12_psi": v12_psi,
    "v13_benford": v13_benford,
    "v14_l_diversity": v14_l_diversity,
    "llm_sentence_split": llm_sentence_split,
    "llm_nfc_normalize": llm_nfc_normalize,
    "g12_hits": g12_hits,
    "s21_incremental_ingest": s21_incremental_ingest,
    "s22_forget": s22_forget,
    "v16_chi_square_drift": v16_chi_square_drift,
    "j22_spatial_join": j22_spatial_join,
    "j22b_spatial_haversine": j22b_spatial_haversine,
    "j23_point_in_polygon": j23_point_in_polygon,
    "g13_weighted_pr": g13_weighted_pr,
    "g14_betweenness": g14_betweenness,
    "e23_mask_shape": e23_mask_shape,
    "w_lag_features": w_lag_features,
    "j11_semi_join": j11_semi_join,
    "j12_anti_join": j12_anti_join,
    "j13_full_outer": j13_full_outer,
    "a12_unpivot": a12_unpivot,
    "a28_string_agg": a28_string_agg,
    "a32_basket_pairs": a32_basket_pairs,
    "e18_slugify": e18_slugify,
    "u4_union_distinct": u4_union_distinct,
    "p11_distinct_from": p11_distinct_from,
    "e20_pad_ids": e20_pad_ids,
    "a36_dominance": a36_dominance,
    "a37_entropy": a37_entropy,
    "d10_burst_dedup": d10_burst_dedup,
    "d11_keep_latest_n": d11_keep_latest_n,
    "j21_report_spine": j21_report_spine,
    "a33_gini": a33_gini,
    "u2_intersect": u2_intersect,
    "u3_except": u3_except,
    "q14_promo_share": q14_promo_share,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "q7_nation_trade": q7_nation_trade,
    "q8_market_share": q8_market_share,
    "q13_order_distribution": q13_order_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive": q19_disjunctive,
    "q12_priority_class": q12_priority_class,
    "q16_supplier_variety": q16_supplier_variety,
    "q20_excess_shippers": q20_excess_shippers,
    "q22_dormant_wealthy": q22_dormant_wealthy,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q9_product_profit": q9_product_profit,
    "q11_important_stock": q11_important_stock,
    "q21_waiting_supplier": q21_waiting_supplier,
    "sql3_exists_cte": sql3_exists_cte,
    "s12_zorder_profile": s12_zorder_profile,
}
