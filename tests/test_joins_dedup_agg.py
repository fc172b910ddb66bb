"""Join suite (J1-J9 + fan-out guard), dedup family (D1-D4), and the
mode aggregate (A1) -- the semantics-laden operators.  Includes the plan
assertion that dimensions actually broadcast."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import rows
from uofi_payroll_etl_main_spark.aggregates import min_max, mode_agg
from uofi_payroll_etl_main_spark.dedup import (
    dedup_full,
    dedup_keys_tolerant,
    keep_first,
    with_ingest_order,
)
from uofi_payroll_etl_main_spark.joins import (
    FanOutWarning,
    broadcast_left_join,
    dict_map_join,
    safe_merge_left,
)
from uofi_payroll_etl_main_spark.report import RunReport


@pytest.fixture()
def fact(spark):
    return spark.createDataFrame(
        [Row(k="1-602", other="a"), Row(k="1-603", other="b"), Row(k="9-999", other="c")]
    )


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame(
        [Row(k="1-602", title="Physics"), Row(k="1-603", title="Math"),
         Row(k="1-602", title="Physics")]  # duplicate row: dim dedup must collapse it
    )


def test_broadcast_left_join_same_key(fact, dim):
    out = broadcast_left_join(fact, dim, "k")
    got = rows(out, "k", "other", "title")
    assert got == [("1-602", "a", "Physics"), ("1-603", "b", "Math"), ("9-999", "c", None)]


def test_broadcast_left_join_plan_broadcasts(fact, dim):
    explained = broadcast_left_join(fact, dim, "k")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in explained, explained


def test_broadcast_left_join_differing_keys_drop_and_rename(spark, fact):
    dim = spark.createDataFrame([Row(dk="1-602", t="Physics")])
    out = broadcast_left_join(
        fact, dim, {"k": "dk"}, rename={"t": "Title"}, drop_dim_keys=True
    )
    assert "dk" not in out.columns and "Title" in out.columns
    got = dict(rows(out, "k", "Title"))
    assert got == {"1-602": "Physics", "1-603": None, "9-999": None}


def test_broadcast_left_join_composite_key(spark):
    fact = spark.createDataFrame([Row(e="EA", p="BW", v=1), Row(e="EA", p="MN", v=2)])
    dim = spark.createDataFrame([Row(je="EA", pid="BW", flsa="Exempt")])
    out = broadcast_left_join(fact, dim, {"e": "je", "p": "pid"}, drop_dim_keys=True)
    got = dict(rows(out, "v", "flsa"))
    assert got == {1: "Exempt", 2: None}


def test_safe_merge_left_warns_on_fanout_risk(spark, fact):
    dim = spark.createDataFrame(
        [Row(k="1-602", t="Physics"), Row(k="1-602", t="DIFFERENT")]  # same key, two values
    )
    report = RunReport()
    out = safe_merge_left(fact, dim, "k", report)
    assert out.count() == 4  # warn-don't-fail: the fanned-out rows stand
    with pytest.warns(FanOutWarning, match=r"left join on 'k' changed the row count: 3 -> 4"):
        assert len(report.warnings) == 1
    assert report.fan_out == [("left join on 'k'", 3, 4)]


def test_safe_merge_left_quiet_when_unique(fact, dim):
    report = RunReport()
    with warnings.catch_warnings():
        warnings.simplefilter("error", FanOutWarning)
        out = safe_merge_left(fact, dim, "k", report)
        assert out.count() == 3
        assert report.warnings == []
    assert report.fan_out == [("left join on 'k'", 3, 3)]


def test_dict_map_join(spark, fact):
    lookup = spark.createDataFrame([Row(k="1-602", v="Web Time"), Row(k="1-603", v="Banner")])
    out = dict_map_join(fact, lookup, "k", "v", out_col="mapped")
    got = dict(rows(out, "other", "mapped"))
    assert got == {"a": "Web Time", "b": "Banner", "c": None}


# ---------- dedup ----------

def test_dedup_full(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["x", "y"])
    assert dedup_full(df).count() == 2


def test_keep_first_deterministic_winner(spark):
    # same key, different payloads; explicit order column decides the winner
    df = spark.createDataFrame(
        [Row(k="u1", payload="FIRST", ord=0),
         Row(k="u1", payload="SECOND", ord=1),
         Row(k="u2", payload="ONLY", ord=2)]
    )
    got = dict(rows(keep_first(df, ["k"], "ord"), "k", "payload"))
    assert got == {"u1": "FIRST", "u2": "ONLY"}


def test_keep_first_respects_source_order_struct(spark):
    # CPA union: (src, row) struct order -- BW rows beat MN rows
    df = spark.createDataFrame(
        [Row(k="u1", payload="MN", o=(1, 0)), Row(k="u1", payload="BW", o=(0, 5))]
    )
    got = dict(rows(keep_first(df, ["k"], "o"), "k", "payload"))
    assert got == {"u1": "BW"}


def test_dedup_keys_tolerant_missing_key_warns(spark):
    df = spark.createDataFrame([Row(UIN="1", x="a"), Row(UIN="1", x="b")])
    with pytest.warns(UserWarning, match="missing"):
        out = dedup_keys_tolerant(df, ["UIN", "Pay Event"], order_col=F.lit(1))
    assert out.count() == 1  # dedups on the present subset


def test_with_ingest_order_is_monotonic_per_partition(spark):
    df = with_ingest_order(spark.range(100).repartition(4))
    # distinct + count unchanged; order column exists
    assert df.count() == 100
    assert "__ingest_order" in df.columns or len(df.columns) == 2


# ---------- aggregates ----------

def test_mode_agg_majority(spark):
    df = spark.createDataFrame(
        [Row(k="W", v="Web"), Row(k="W", v="Web"), Row(k="W", v="Banner")]
    )
    assert dict(rows(mode_agg(df, "k", "v"), "k", "v")) == {"W": "Web"}


def test_mode_agg_tie_breaks_lexicographic_min(spark):
    # pandas mode() returns sorted values; .iat[0] == lexicographic min (ref :217)
    df = spark.createDataFrame(
        [Row(k="T", v="Zulu"), Row(k="T", v="Alpha"), Row(k="T", v="Zulu"), Row(k="T", v="Alpha")]
    )
    assert dict(rows(mode_agg(df, "k", "v"), "k", "v")) == {"T": "Alpha"}


def test_mode_agg_drops_null_values(spark):
    df = spark.createDataFrame(
        [Row(k="N", v=None), Row(k="N", v=None), Row(k="N", v="Real")]
    )
    assert dict(rows(mode_agg(df, "k", "v"), "k", "v")) == {"N": "Real"}


def test_min_max(spark):
    df = spark.createDataFrame([Row(d=x) for x in [3, 1, 2]])
    got = min_max(df, "d").first()
    assert (got[0], got[1]) == (1, 3)


# ---------- scale utilities ----------

def test_salted_left_join_matches_plain(spark):
    fact = spark.range(0, 1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("payload")
    )
    dim = spark.createDataFrame([Row(k=0, name="zero"), Row(k=1, name="one")])
    from uofi_payroll_etl_main_spark.joins import salted_left_join

    salted = salted_left_join(fact, dim, "k", salt=4)
    plain = fact.join(dim, "k", "left")
    assert rows(salted, "k", "payload", "name") == rows(plain, "k", "payload", "name")


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from uofi_payroll_etl_main_spark.joins import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
        b = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
        write_bucketed(a, "bt_a", ["k"], n_buckets=8)
        write_bucketed(b, "bt_b", ["k"], n_buckets=8)
        joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located bucketed scan: the join happens without a shuffle
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_hll_distinct_within_rsd(spark, sf_dir):
    from uofi_payroll_etl_main_spark.aggregates import hll_distinct
    from uofi_payroll_etl_main_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    approx = {r[0]: r[1] for r in hll_distinct(ev, "event_type", "user_id").collect()}
    exact = {r[0]: r[1] for r in
             ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()}
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.1 * n), (k, approx[k], n)


def test_approx_quantiles_bracket_exact_median(spark, sf_dir):
    from uofi_payroll_etl_main_spark.aggregates import approx_quantiles
    from uofi_payroll_etl_main_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    got = {r[0]: r[1] for r in approx_quantiles(ev, "event_type", "value", (0.5,)).collect()}
    import numpy as np

    pdf = ev.select("event_type", "value").toPandas()
    for k, grp in pdf.groupby("event_type"):
        exact = float(np.median(grp["value"].dropna()))
        lo, hi = np.percentile(grp["value"].dropna(), [40, 60])
        assert lo <= got[k] <= hi, (k, got[k], exact)


def test_asof_join_backward_semantics(spark):
    from uofi_payroll_etl_main_spark.joins import asof_join_backward

    left = spark.createDataFrame(
        [Row(k="u", ts=5, eid="before-any"),
         Row(k="u", ts=10, eid="at-tie"),
         Row(k="u", ts=17, eid="between"),
         Row(k="v", ts=100, eid="other-group")],
    )
    right = spark.createDataFrame(
        [Row(k="u", ts=10, price=1.0),
         Row(k="u", ts=15, price=2.0),
         Row(k="w", ts=1, price=9.0)],
    )
    out = asof_join_backward(left, right, by="k", ts="ts",
                             value_cols=["price"], right_ts_alias="mts")
    got = {r.eid: (r.mts, r.price) for r in out.collect()}
    assert got["before-any"] == (None, None)   # no prior right row
    assert got["at-tie"] == (10, 1.0)          # ties match (<=)
    assert got["between"] == (15, 2.0)         # latest prior wins
    assert got["other-group"] == (None, None)  # group isolation


def test_write_partitioned_prunes(spark, sf_dir, tmp_path):
    from uofi_payroll_etl_main_spark.io import load_table, write_partitioned

    path = str(tmp_path / "events_part")
    write_partitioned(load_table(spark, sf_dir, "events"), path, ["event_type"])
    scan = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "purchase" in plan, plan
    n_all = spark.read.parquet(path).count()
    n_purch = scan.count()
    assert 0 < n_purch < n_all


def test_asof_join_null_payload_on_matched_row(spark):
    # the matched row's NULL payload must surface as NULL, not be
    # backfilled from an older right row (ts and values travel together)
    from uofi_payroll_etl_main_spark.joins import asof_join_backward

    left = spark.createDataFrame([Row(k="u", ts=30, eid="e")])
    right = spark.createDataFrame(
        [Row(k="u", ts=10, price=5.0), Row(k="u", ts=20, price=None)],
        "k string, ts long, price double",
    )
    out = asof_join_backward(left, right, by="k", ts="ts",
                             value_cols=["price"], right_ts_alias="mts").first()
    assert out.mts == 20 and out.price is None


def test_write_range_sorted_disjoint_files(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from uofi_payroll_etl_main_spark.io import load_table, write_range_sorted

    path = str(tmp_path / "events_ranged")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    write_range_sorted(ev, path, ["event_id"], num_files=4)
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 4
    # each file covers a disjoint event_id range (min/max from footer
    # stats -- exactly what row-group skipping prunes on)
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "event_id"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, ranges
    # and nothing was lost or duplicated in the re-layout
    assert spark.read.parquet(path).count() == ev.count()


def test_profile_table_one_pass(spark):
    from uofi_payroll_etl_main_spark.report import profile_table

    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b=None), Row(a=2, b="y"), Row(a=None, b="x")]
    )
    prof = {r.column: r for r in profile_table(df).collect()}
    assert prof["a"].n_rows == 4 and prof["a"].n_nulls == 1
    assert prof["b"].n_nulls == 1
    assert prof["a"].min_str == "1" and prof["a"].max_str == "2"
    # HLL estimate is exact at this tiny cardinality
    assert prof["a"].n_distinct_est == 2 and prof["b"].n_distinct_est == 2
    # single aggregation: the plan has exactly one pair of HashAggregates
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2, plan


def test_compact_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    from uofi_payroll_etl_main_spark.io import compact

    path = str(tmp_path / "many_files")
    spark.range(1000).repartition(16).write.parquet(path)
    assert len(glob.glob(path + "/part-*.parquet")) == 16
    before = {r.id for r in spark.read.parquet(path).collect()}
    out = compact(spark, path, 3)
    assert len(glob.glob(path + "/part-*.parquet")) == 3
    assert {r.id for r in out.collect()} == before


def test_group_stats_hand_computed(spark):
    import math

    from pyspark.sql import Row

    from uofi_payroll_etl_main_spark.aggregates import group_stats

    d = spark.createDataFrame(
        [
            Row(g="a", v=1.0),
            Row(g="a", v=2.0),
            Row(g="a", v=3.0),
            Row(g="b", v=7.5),  # singleton: stddev must be null
        ]
    )
    got = {r.g: r for r in group_stats(d, "g", "v").collect()}
    assert got["a"].n == 3 and got["a"].mean_v == 2.0
    assert got["a"].stddev_v == round(math.sqrt(1.0), 6)  # var of 1,2,3 = 1
    assert (got["a"].min_v, got["a"].max_v) == (1.0, 3.0)
    assert got["b"].n == 1 and got["b"].stddev_v is None and got["b"].mean_v == 7.5


def test_write_zordered_bounded_boxes(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from uofi_payroll_etl_main_spark.io import write_zordered

    # 64x64 grid: every (x, y) combination once
    grid = (
        spark.range(64 * 64)
        .selectExpr("id % 64 AS x", "CAST(id / 64 AS LONG) AS y", "id AS payload")
    )
    path = str(tmp_path / "zordered")
    write_zordered(grid, path, ["x", "y"], num_files=16)
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 16

    def box(f):
        md = pq.ParquetFile(f).metadata
        lo = {"x": None, "y": None}
        hi = {"x": None, "y": None}
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in lo:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        return lo, hi

    boxes = [box(f) for f in files]
    # every file's bounding box must be small in BOTH dims: a z-curve
    # through a 64x64 grid split into 16 files gives ~16x16 tiles;
    # allow generous slack for boundary-crossing files
    global_area = 64 * 64
    for lo, hi in boxes:
        area = (hi["x"] - lo["x"] + 1) * (hi["y"] - lo["y"] + 1)
        assert area <= global_area / 4, (lo, hi)
    # a small box predicate must prune most files on footer stats alone
    q = [b for b in boxes if not (b[1]["x"] < 10 or b[0]["x"] > 20 or b[1]["y"] < 10 or b[0]["y"] > 20)]
    assert len(q) <= len(files) // 2, [b for b in boxes]
    # lossless re-layout
    assert spark.read.parquet(path).count() == 64 * 64


def test_group_corr_hand_computed(spark):
    from pyspark.sql import Row

    from uofi_payroll_etl_main_spark.aggregates import group_corr

    d = spark.createDataFrame(
        [
            # perfectly linear: corr = 1
            Row(g="up", x=1.0, y=2.0),
            Row(g="up", x=2.0, y=4.0),
            Row(g="up", x=3.0, y=6.0),
            # perfectly inverse: corr = -1
            Row(g="down", x=1.0, y=3.0),
            Row(g="down", x=2.0, y=2.0),
            Row(g="down", x=3.0, y=1.0),
            # constant y: undefined -> null
            Row(g="flat", x=1.0, y=5.0),
            Row(g="flat", x=2.0, y=5.0),
        ]
    )
    got = {r.g: (r.n, r.corr_xy) for r in group_corr(d, "g", "x", "y").collect()}
    assert got == {"up": (3, 1.0), "down": (3, -1.0), "flat": (2, None)}


def test_interval_join_matches_theta_join(spark):
    """Bucketed interval join == naive theta join, for every bucket
    width (windows spanning 1..many buckets) and never duplicates."""
    from uofi_payroll_etl_main_spark.joins import interval_join

    ev = spark.createDataFrame(
        [(i, i % 3, f"2024-01-01 00:{i:02d}:30") for i in range(50)],
        "eid long, k long, s string",
    ).select("eid", "k", F.col("s").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [
            (100, 0, "2024-01-01 00:05:00", "2024-01-01 00:20:00"),
            (101, 1, "2024-01-01 00:00:00", "2024-01-01 00:01:00"),
            (102, 2, "2024-01-01 00:30:00", "2024-01-01 00:49:30"),
            (103, 0, "2024-01-01 00:10:00", "2024-01-01 00:10:00"),  # empty
        ],
        "wid long, k long, a string, b string",
    ).select(
        "wid", "k",
        F.col("a").cast("timestamp").alias("a"),
        F.col("b").cast("timestamp").alias("b"),
    )
    naive = sorted(
        (r["eid"], r["wid"])
        for r in ev.join(
            iv,
            (ev["k"] == iv["k"]) & (ev["ts"] >= iv["a"]) & (ev["ts"] < iv["b"]),
        ).collect()
    )
    assert naive  # fixture actually matches something
    for width in (30, 60, 600, 7200):
        got = sorted(
            (r["eid"], r["wid"])
            for r in interval_join(
                ev, iv, "ts", "a", "b", keys=["k"], bucket_seconds=width
            ).collect()
        )
        assert got == naive, f"width={width}"


def test_histogram_invariants(spark):
    from uofi_payroll_etl_main_spark.aggregates import histogram

    df = spark.range(0, 1000).select((F.col("id") % 97).cast("double").alias("v"))
    h = histogram(df, "v", nbins=10).orderBy("bin").collect()
    assert len(h) == 10
    assert sum(r["n"] for r in h) == 1000
    assert h[0]["lo_edge"] == 0.0 and h[-1]["hi_edge"] == 96.0
    for a, b in zip(h, h[1:]):
        assert a["hi_edge"] == b["lo_edge"]
    # constant column: everything lands in bin 0
    c = histogram(spark.range(5).select(F.lit(7.0).alias("v")), "v", nbins=4)
    rows_c = c.orderBy("bin").collect()
    assert rows_c[0]["n"] == 5 and sum(r["n"] for r in rows_c) == 5


def test_sketch_merge_distinct_tolerance(spark):
    """Merged daily sketches estimate whole-range distincts within ~5%
    of exact, and slice counts are exact -- for BOTH tiers: the
    md5-register (oracle-checked) and the native Datasketches
    (byte-compact production) implementations."""
    from uofi_payroll_etl_main_spark.aggregates import (
        sketch_merge_distinct,
        sketch_merge_distinct_native,
    )

    df = spark.range(0, 20000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") % 40).alias("slice"),
        (F.col("id") % 2311).alias("k"),
    )
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.countDistinct("k").alias("n")).collect()
    }
    for fn in (sketch_merge_distinct, sketch_merge_distinct_native):
        got = {r["g"]: r for r in fn(df, "slice", "g", "k").collect()}
        for g, n in exact.items():
            est = got[g]["distinct_est"]
            assert abs(est - n) / n < 0.05, (fn.__name__, g, est, n)
            assert got[g]["n_slices"] == 40


def test_run_sql_matches_dataframe_twin(spark, sf_dir):
    from uofi_payroll_etl_main_spark.sql_api import run_sql

    out = run_sql(
        spark, sf_dir, "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'R'"
    ).collect()[0]["n"]
    from uofi_payroll_etl_main_spark.io import load_table

    exp = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").count()
    assert out == exp


def test_sketch_union_within_hll_tolerance(spark):
    """a17: the merged-HLL estimate must sit within +/- 2*rsd of the
    exact distinct count per group (Spark hll_sketch_agg default
    lgConfigK=12 -> rsd ~ 1.04/sqrt(4096) ~ 1.6%)."""
    from pyspark.sql import functions as F

    from uofi_payroll_etl_main_spark.aggregates import sketch_merge_distinct
    from uofi_payroll_etl_main_spark.io import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").withColumn(
        "day", F.to_date("ts")
    )
    est = {
        r["event_type"]: r["distinct_est"]
        for r in sketch_merge_distinct(ev, "day", "event_type", "user_id").collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    rsd = 1.04 / (2**12) ** 0.5
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(2, 2 * rsd * n), (k, est[k], n)


def test_asof_join_forward_semantics(spark):
    from uofi_payroll_etl_main_spark.joins import asof_join_forward

    left = spark.createDataFrame(
        [Row(k="u", ts=5, eid="before-any"),
         Row(k="u", ts=10, eid="at-tie"),
         Row(k="u", ts=17, eid="after-all"),
         Row(k="v", ts=100, eid="other-group")],
    )
    right = spark.createDataFrame(
        [Row(k="u", ts=10, price=1.0),
         Row(k="u", ts=15, price=2.0),
         Row(k="w", ts=1, price=9.0)],
    )
    out = asof_join_forward(left, right, by="k", ts="ts",
                            value_cols=["price"], right_ts_alias="mts")
    got = {r.eid: (r.mts, r.price) for r in out.collect()}
    assert got["before-any"] == (10, 1.0)      # earliest at-or-after
    assert got["at-tie"] == (10, 1.0)          # ties match (>=)
    assert got["after-all"] == (None, None)    # nothing later
    assert got["other-group"] == (None, None)  # group isolation


def test_asof_join_nearest_semantics(spark):
    from uofi_payroll_etl_main_spark.joins import asof_join_nearest

    left = spark.createDataFrame(
        [Row(k="u", ts=6, eid="closer-prior"),
         Row(k="u", ts=13, eid="closer-next"),
         Row(k="u", ts=10, eid="equidistant"),
         Row(k="u", ts=2, eid="only-next-exists"),
         Row(k="v", ts=50, eid="no-rights")],
    )
    right = spark.createDataFrame(
        [Row(k="u", ts=5, price=1.0),
         Row(k="u", ts=15, price=2.0)],
    )
    out = asof_join_nearest(left, right, by="k", ts="ts",
                            value_cols=["price"], right_ts_alias="mts")
    got = {r.eid: (r.mts, r.price) for r in out.collect()}
    assert got["closer-prior"] == (5, 1.0)       # |6-5| < |15-6|
    assert got["closer-next"] == (15, 2.0)       # |13-5| > |15-13|
    assert got["equidistant"] == (5, 1.0)        # tie -> prior
    assert got["only-next-exists"] == (5, 1.0)   # 2 < 5: prior absent? no -- 5 is next
    assert got["no-rights"] == (None, None)


def test_asof_join_nearest_prior_absent_takes_next(spark):
    from uofi_payroll_etl_main_spark.joins import asof_join_nearest

    left = spark.createDataFrame([Row(k="u", ts=1, eid="early")])
    right = spark.createDataFrame([Row(k="u", ts=100, price=3.0)])
    out = asof_join_nearest(left, right, by="k", ts="ts",
                            value_cols=["price"], right_ts_alias="mts")
    r = out.collect()[0]
    assert (r.mts, r.price) == (100, 3.0)


# ---------------------------------------------------------------- bloom


def test_bloom_semi_join_exact_matches_plain_semi(spark):
    from uofi_payroll_etl_main_spark.joins import bloom_semi_join

    fact = spark.range(5000).withColumnRenamed("id", "k")
    keys = spark.range(0, 5000, 7).withColumnRenamed("id", "kk")
    got = sorted(r.k for r in bloom_semi_join(
        fact, keys, {"k": "kk"}, num_bits=1 << 14).collect())
    want = sorted(range(0, 5000, 7))
    assert got == want


def test_bloom_prune_has_no_false_negatives(spark):
    """Even a badly undersized bloom (high fpp) must keep every true
    match -- prune mode can only overshoot, never drop."""
    from uofi_payroll_etl_main_spark.joins import bloom_semi_join

    fact = spark.range(2000).withColumnRenamed("id", "k")
    keys = spark.range(0, 2000, 13).withColumnRenamed("id", "kk")
    pruned = set(r.k for r in bloom_semi_join(
        fact, keys, {"k": "kk"}, num_bits=256, num_hashes=3, exact=False).collect())
    assert set(range(0, 2000, 13)) <= pruned


def test_bloom_prune_fpp_is_small_when_sized(spark):
    """A filter sized ~16 bits/key keeps the overshoot low (< 5%)."""
    from uofi_payroll_etl_main_spark.joins import bloom_semi_join

    fact = spark.range(20000).withColumnRenamed("id", "k")
    keys = spark.range(0, 20000, 10).withColumnRenamed("id", "kk")  # 2000 keys
    n = bloom_semi_join(
        fact, keys, {"k": "kk"}, num_bits=1 << 15, num_hashes=5, exact=False
    ).count()
    assert 2000 <= n <= 2000 + int(0.05 * 18000)


def test_bloom_empty_key_set_yields_empty_result(spark):
    from uofi_payroll_etl_main_spark.joins import bloom_semi_join

    fact = spark.range(100).withColumnRenamed("id", "k")
    keys = spark.range(0).withColumnRenamed("id", "kk")
    assert bloom_semi_join(fact, keys, {"k": "kk"}, num_bits=1 << 10).count() == 0
    assert bloom_semi_join(
        fact, keys, {"k": "kk"}, num_bits=1 << 10, exact=False).count() == 0


def test_bloom_probe_stays_jvm_side_and_prunes_before_join(spark):
    from uofi_payroll_etl_main_spark.joins import bloom_semi_join

    fact = spark.range(100).withColumnRenamed("id", "k")
    keys = spark.range(50).withColumnRenamed("id", "kk")
    plan = (
        bloom_semi_join(fact, keys, {"k": "kk"}, num_bits=1 << 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the bitmap is a literal predicate on the scan, not a join Catalyst
    # could float above the exact semi join (un-pruning the shuffle)
    assert "BroadcastNestedLoopJoin" not in plan
    join_at = plan.index("Join")
    assert "element_at" in plan[join_at:], "probe filter must sit below the join"


def test_write_training_shards_balanced_deterministic(spark, tmp_path):
    import glob

    from uofi_payroll_etl_main_spark.io import write_training_shards
    from uofi_payroll_etl_main_spark.llm.curation import shuffle_index

    df = spark.range(400).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=4)
    assert len(glob.glob(out + "/shard=*")) == 4
    back = spark.read.parquet(out)
    # exact balance: round-robin over a 0..n-1 permutation
    sizes = {r.shard: r.n for r in back.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {0: 100, 1: 100, 2: 100, 3: 100}
    # shard membership is the permutation position mod n_shards
    pos = {r.doc_id: r.shuffle_pos for r in shuffle_index(df, "doc_id").collect()}
    for r in back.collect():
        assert r.shard == pos[r.doc_id] % 4
        assert r.shuffle_pos == pos[r.doc_id]
    # all rows survive exactly once
    assert sorted(r.doc_id for r in back.collect()) == list(range(400))


def test_cms_estimate_upper_bounds_exact_counts(spark):
    from uofi_payroll_etl_main_spark.aggregates import cms_build, cms_estimate

    df = spark.createDataFrame(
        [Row(k=f"item{i % 37}") for i in range(2000)]
    )
    cms = cms_build(df, "k", hex_chars=2, depth=4)  # 256 cells
    items = df.select("k").dropDuplicates()
    est = {r.k: r.est for r in cms_estimate(cms, items, "k", hex_chars=2, depth=4).collect()}
    exact = {r.k: r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_total = 2000
    eps_bound = int(2.7182818 / 256 * n_total) + 1
    for k, true_n in exact.items():
        assert est[k] >= true_n                      # CMS never undercounts
        assert est[k] <= true_n + eps_bound * 4      # loose sanity ceiling
    # sketch is bounded regardless of input size
    assert cms.count() <= 4 * 256


def test_cms_merge_equals_sketch_of_union(spark):
    from uofi_payroll_etl_main_spark.aggregates import cms_build, cms_merge

    a = spark.createDataFrame([Row(k=f"a{i % 11}") for i in range(300)])
    b = spark.createDataFrame([Row(k=f"a{i % 7}") for i in range(200)])
    merged = {(r.d, r.w): r.cnt for r in cms_merge(
        cms_build(a, "k", hex_chars=2, depth=3), cms_build(b, "k", hex_chars=2, depth=3)
    ).collect()}
    whole = {(r.d, r.w): r.cnt for r in cms_build(
        a.unionByName(b), "k", hex_chars=2, depth=3).collect()}
    assert merged == whole


def test_winsorize_clips_to_group_percentiles(spark):
    from uofi_payroll_etl_main_spark.aggregates import winsorize

    df = spark.createDataFrame(
        [Row(g="a", v=float(i)) for i in range(101)] + [Row(g="b", v=1000.0)]
    )
    out = {(r.g, r.v): r.v_wins for r in winsorize(df, "g", "v", 0.05, 0.95, "v_wins").collect()}
    assert out[("a", 0.0)] == 5.0 and out[("a", 100.0)] == 95.0
    assert out[("a", 50.0)] == 50.0
    assert out[("b", 1000.0)] == 1000.0  # single-value group: clip is identity


def test_robust_zscore_hand_computed_and_outlier_resistant(spark):
    from uofi_payroll_etl_main_spark.aggregates import robust_zscore

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 1000.0]  # median 3.5, MAD 1.5
    df = spark.createDataFrame([Row(g="a", v=v) for v in vals])
    out = {r.v: r.robust_z for r in robust_zscore(df, "g", "v").collect()}
    assert abs(out[3.0] - (3.0 - 3.5) / (1.4826 * 1.5)) < 1e-12
    assert out[1000.0] > 100  # the outlier is flagged hard...
    assert abs(out[2.0]) < 1.0  # ...while inliers stay small
    # constant group -> MAD 0 -> defined zero
    cst = spark.createDataFrame([Row(g="c", v=7.0)] * 4)
    assert all(r.robust_z == 0.0 for r in robust_zscore(cst, "g", "v").collect())


def test_group_spearman_hand_computed(spark):
    from uofi_payroll_etl_main_spark.aggregates import group_spearman

    # perfect inverse monotone -> -1 regardless of scale
    inv = spark.createDataFrame(
        [Row(g="a", x=1.0, y=100.0), Row(g="a", x=2.0, y=9.0), Row(g="a", x=3.0, y=-5.0)]
    )
    got = group_spearman(inv, "g", "x", "y").collect()[0]
    assert got.spearman_xy == -1.0
    # mid-rank ties: rx=[1.5,1.5,3], ry=[1,2,3] -> 1.5/sqrt(1.5*2)
    ties = spark.createDataFrame(
        [Row(g="t", x=1.0, y=1.0), Row(g="t", x=1.0, y=2.0), Row(g="t", x=2.0, y=3.0)]
    )
    got = group_spearman(ties, "g", "x", "y").collect()[0]
    assert abs(got.spearman_xy - 0.866025) < 1e-6


def test_check_expectations_detects_each_violation(spark):
    from uofi_payroll_etl_main_spark.report import check_expectations

    df = spark.createDataFrame(
        [
            Row(k=1, v=10.0, cat="a"),
            Row(k=1, v=-5.0, cat="b"),      # dup key, out of range
            Row(k=2, v=None, cat="weird"),  # null v tolerated below, bad cat
        ]
    )
    rep = {r.rule: r for r in check_expectations(
        df,
        [
            {"kind": "unique", "col": "k"},
            {"kind": "not_null", "col": "v", "max_null_frac": 0.5},
            {"kind": "in_range", "col": "v", "lo": 0, "hi": 100},
            {"kind": "in_set", "col": "cat", "values": ["a", "b"]},
            {"kind": "min_rows", "n": 10},
        ],
    ).collect()}
    assert not rep["unique"].passed and abs(rep["unique"].metric - 2 / 3) < 1e-12
    assert rep["not_null"].passed          # 1/3 nulls <= 0.5 budget
    assert not rep["in_range"].passed and rep["in_range"].metric == 1.0
    assert not rep["in_set"].passed and rep["in_set"].metric == 1.0
    assert not rep["min_rows"].passed and rep["min_rows"].metric == 3.0


def test_check_expectations_single_scan(spark):
    """All rules fold into ONE aggregate: exactly one Aggregate chain,
    no unions of per-rule scans."""
    from uofi_payroll_etl_main_spark.report import check_expectations

    df = spark.range(100).selectExpr("id as k", "cast(id as double) v")
    rep = check_expectations(
        df, [{"kind": "unique", "col": "k"}, {"kind": "min_rows", "n": 1}]
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") <= 2  # range source appears once per stage, never per rule
    assert rep.filter(~F.col("passed")).count() == 0


def test_group_ols_matches_numpy_polyfit(spark):
    import numpy as np

    from uofi_payroll_etl_main_spark.aggregates import group_ols

    xs = [0.0, 1.0, 2.0, 3.0, 4.0]
    ys = [1.0, 3.1, 4.9, 7.2, 8.8]
    rows = [("a", x, y) for x, y in zip(xs, ys)]
    rows += [("const_x", 2.0, float(v)) for v in (1, 2, 3)]   # vx=0 -> null fit
    rows += [("const_y", float(v), 5.0) for v in (1, 2, 3)]   # vy=0 -> slope 0, r2 null
    rows += [("single", 1.0, 1.0)]                            # n=1 -> null fit
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = {r.k: r for r in group_ols(df, "k", "x", "y").collect()}

    slope, intercept = np.polyfit(xs, ys, 1)
    assert abs(got["a"].slope - round(slope, 6)) < 1e-9
    assert abs(got["a"].intercept - round(intercept, 6)) < 1e-9
    r = np.corrcoef(xs, ys)[0, 1]
    assert abs(got["a"].r2 - round(r * r, 6)) < 1e-9
    assert got["const_x"].slope is None and got["const_x"].r2 is None
    assert got["const_y"].slope == 0.0 and got["const_y"].r2 is None
    assert got["single"].slope is None


def test_k_anonymity_flags_small_classes(spark):
    from uofi_payroll_etl_main_spark.report import k_anonymity

    rows = [("US", "M")] * 5 + [("US", "F")] * 2 + [("FR", "M")]
    df = spark.createDataFrame(rows, "country string, segment string")
    got = {(r.country, r.segment): r for r in
           k_anonymity(df, ["country", "segment"], k=3).collect()}
    assert got[("US", "M")].class_size == 5 and not got[("US", "M")].at_risk
    assert got[("US", "F")].class_size == 2 and got[("US", "F")].at_risk
    assert got[("FR", "M")].class_size == 1 and got[("FR", "M")].at_risk

    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must be"):
        k_anonymity(df, ["country"], k=0)


def test_pseudonymize_consistent_and_null_safe(spark):
    import hashlib

    from uofi_payroll_etl_main_spark.expressions import pseudonymize

    df = spark.createDataFrame(
        [(1, "alice"), (2, "alice"), (3, None), (4, "bob")],
        "id long, name string",
    )
    got = {r.id: r.tok for r in
           df.select("id", pseudonymize("name", "s3cret").alias("tok")).collect()}
    expect = hashlib.sha256(b"s3cretalice").hexdigest()
    assert got[1] == expect
    assert got[1] == got[2]          # same input -> same token (joinable)
    assert got[3] is None            # null stays null
    assert got[4] != got[1]


def test_psi_identical_slices_zero_and_shift_detected(spark):
    import math

    from uofi_payroll_etl_main_spark.report import psi_report

    a = spark.range(1000).selectExpr("cast(id % 100 as double) as v")
    same = psi_report(a, a, "v", nbins=10).collect()
    assert sum(r.psi_term for r in same) == 0.0
    assert all(r.share_a == r.share_b for r in same)

    # slice B shifted up by 50: heavy mass moves to the upper bins
    b = spark.range(1000).selectExpr("cast(id % 100 + 50 as double) as v")
    rows = psi_report(a, b, "v", nbins=10).collect()
    psi = sum(r.psi_term for r in rows)
    assert psi > 0.25  # "investigate" territory
    # hand-check one bin: combined range [0,149], width 14.9 -> bin 0 is
    # [0,14.9): A has 150/1000, B has 0 (clamped to eps)
    bin0 = {r.bin: r for r in rows}[0]
    assert bin0.n_a == 150 and bin0.n_b == 0
    assert bin0.share_b == 1e-6
    expect = (0.15 - 1e-6) * math.log(0.15 / 1e-6)
    assert abs(bin0.psi_term - round(expect, 6)) < 1e-9


def test_benford_hand_distribution(spark):
    import math

    from uofi_payroll_etl_main_spark.report import benford_report

    # 30 values starting with 1, 10 with 2, 10 with 9; zeros/negatives/
    # nulls excluded
    vals = [1.5] * 10 + [120.0] * 10 + [0.019] * 10 + [25.0] * 10 + [900.0] * 10
    vals += [0.0, -7.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = {r.digit: r for r in benford_report(df, "v").collect()}
    assert set(rows) == {1, 2, 9}
    assert rows[1].n == 30 and rows[2].n == 10 and rows[9].n == 10
    assert rows[1].observed_share == 0.6
    exp1 = math.log10(2.0)
    assert abs(rows[1].expected_share - round(exp1, 6)) < 1e-9
    chi1 = 50 * (0.6 - exp1) ** 2 / exp1
    assert abs(rows[1].chi2_term - round(chi1, 6)) < 1e-6
    # digit 9 is wildly over-represented vs 4.6% expected
    assert rows[9].observed_share > 4 * rows[9].expected_share


def test_reconcile_hand_computed(spark):
    from uofi_payroll_etl_main_spark.report import reconcile

    left = spark.createDataFrame(
        [
            Row(k=1, a="x", b=1.0),
            Row(k=2, a="y", b=None),   # b null both sides -> NOT a mismatch
            Row(k=3, a="z", b=3.0),    # only_left
            Row(k=4, a=None, b=4.0),   # a null vs non-null -> mismatch
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, a="x", b=1.5),    # b differs
            Row(k=2, a="y", b=None),
            Row(k=4, a="w", b=4.0),
            Row(k=5, a="q", b=5.0),    # only_right
        ]
    )
    rep = {(r.metric, r.column): r.n for r in reconcile(left, right, ["k"]).collect()}
    assert rep[("only_left", "")] == 1
    assert rep[("only_right", "")] == 1
    assert rep[("matched", "")] == 3
    assert rep[("mismatch", "a")] == 1   # k=4 null-vs-'w'
    assert rep[("mismatch", "b")] == 1   # k=1; k=2 null==null is clean


def test_reconcile_single_join_single_aggregate(spark):
    """ONE full-outer join + ONE aggregate -- no per-column scans."""
    from uofi_payroll_etl_main_spark.report import reconcile

    left = spark.range(50).selectExpr("id as k", "id * 2 as v", "id * 3 as w")
    right = spark.range(40).selectExpr("id as k", "id * 2 as v", "id * 5 as w")
    out = reconcile(left, right, ["k"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1


def test_snapshot_diff_classifies_and_roundtrips(spark):
    from uofi_payroll_etl_main_spark.io import snapshot_diff

    old = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v=None)]
    )
    new = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="CHANGED"), Row(k=4, v="new"), Row(k=5, v=None)]
    )
    got = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    # k=1 unchanged (absent), k=2 changed, k=3 removed, k=4/5 added
    assert got == {2: "changed", 3: "removed", 4: "added", 5: "added"}
    # null-safe: null == null counts as unchanged
    old2 = spark.createDataFrame([Row(k=9, v=None)], "k long, v string")
    new2 = spark.createDataFrame([Row(k=9, v=None)], "k long, v string")
    assert snapshot_diff(old2, new2, ["k"]).count() == 0


def test_bloom_filter_build_dense_array_matches_probe(spark):
    """The DataFrame-form builder (zero-fill union + sort assembly)
    yields a dense word array equivalent to the driver-side densify:
    every inserted key probes positive against it."""
    from uofi_payroll_etl_main_spark.joins import bloom_filter_build, bloom_probe

    keys = spark.range(0, 500, 3).withColumnRenamed("id", "kk")
    row = bloom_filter_build(keys, "kk", num_bits=1 << 12, num_hashes=4).first()
    arr = list(row[0])
    assert len(arr) == (1 << 12) // 64
    probe = spark.range(0, 500, 3).withColumnRenamed("id", "kk").filter(
        bloom_probe(F.col("kk"), F.lit(arr), 1 << 12, 4)
    )
    assert probe.count() == len(range(0, 500, 3))  # no false negatives


def test_band_join_matches_theta_and_boundary(spark):
    from uofi_payroll_etl_main_spark.joins import band_join

    a = spark.createDataFrame([Row(id=i, v=float(i) * 0.25) for i in range(40)])
    b = a.withColumnRenamed("id", "rid")
    got = sorted(
        (r.id, r.rid)
        for r in band_join(a, b, "v", 0.5).filter(F.col("id") != F.col("rid")).collect()
    )
    want = sorted(
        (i, j)
        for i in range(40)
        for j in range(40)
        if i != j and abs(i * 0.25 - j * 0.25) <= 0.5
    )
    assert got == want  # inclusive boundary pairs (diff == eps) survive
    # each pair appears exactly once (no bucket-replication duplicates)
    assert len(got) == len(set(got))


def test_quantile_sketch_merge_within_bin_width(spark, sf_dir):
    from uofi_payroll_etl_main_spark.aggregates import quantile_sketch_merge
    from uofi_payroll_etl_main_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts").cast("timestamp"))
    )
    est = {
        (r[0], r.q): r.est
        for r in quantile_sketch_merge(ev, "event_type", "day", "value").collect()
    }
    bounds = ev.agg(F.min("value"), F.max("value")).first()
    bin_w = (bounds[1] - bounds[0]) / 256
    # The sketch is rank-accurate, value-accurate only to the bin width:
    # near sparse-tail gaps the VALUE distance to the exact interpolated
    # percentile can be the gap itself, so the sound bound is "within
    # bin_w of the exact percentiles one rank-step either side".
    counts = {r[0]: r[1] for r in ev.groupBy("event_type").count().collect()}
    for (etype, q), v in est.items():
        n = counts[etype]
        dq = 1.5 / n
        lo_q, hi_q = max(q - dq, 0.0), min(q + dq, 1.0)
        lo, hi = (
            ev.filter(F.col("event_type") == etype)
            .agg(
                F.percentile("value", F.lit(lo_q)),
                F.percentile("value", F.lit(hi_q)),
            )
            .first()
        )
        assert lo - bin_w - 1e-9 <= v <= hi + bin_w + 1e-9, (etype, q, v, lo, hi)


def test_quantile_sketch_merge_equals_unpartitioned(spark):
    """Merging per-slice sketches must equal sketching the whole frame:
    the merge is exact (cell sums), only the quantile read is approx."""
    from uofi_payroll_etl_main_spark.aggregates import quantile_sketch_merge

    rows = [Row(g="x", p=i % 3, v=float(i)) for i in range(300)]
    df = spark.createDataFrame(rows)
    split = {(r[0], r.q): r.est for r in quantile_sketch_merge(df, "g", "p", "v").collect()}
    whole = {
        (r[0], r.q): r.est
        for r in quantile_sketch_merge(df.withColumn("p", F.lit(0)), "g", "p", "v").collect()
    }
    assert split == whole


@pytest.mark.parametrize("flavor", ["micros_utc", "micros_ntz", "nanos"])
def test_load_table_normalizes_every_ts_flavor(spark, tmp_path, flavor):
    """The driver has regenerated events.parquet with three different ts
    physical types across rounds (micros+UTC -> TIMESTAMP, micros w/o
    the UTC flag -> TIMESTAMP_NTZ, nanos -> rejected outright).  One of
    those regens broke two green queries (round 3); load_table must
    absorb ALL flavors into a plain session-TZ TIMESTAMP so downstream
    operators never see the difference."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from uofi_payroll_etl_main_spark.io import load_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    if flavor == "micros_utc":
        arr = pa.array(micros, pa.timestamp("us", tz="UTC"))
    elif flavor == "micros_ntz":
        arr = pa.array(micros, pa.timestamp("us"))
    else:
        arr = pa.array([m * 1000 + 999 for m in micros], pa.timestamp("ns"))
    table = pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": arr})
    sf_dir = tmp_path / "sfx"
    sf_dir.mkdir()
    pq.write_table(table, sf_dir / "events.parquet", store_schema=False)

    df = load_table(spark, str(sf_dir), "events")
    (ts_type,) = [f.dataType for f in df.schema.fields if f.name == "ts"]
    assert isinstance(ts_type, T.TimestampType), (flavor, ts_type)
    got = sorted(
        r.us for r in df.select(F.unix_micros("ts").alias("us")).collect()
    )
    # nanos truncate toward zero (DuckDB/Arrow behavior), never round up
    assert got == micros, (flavor, got)


class TestIndexDedup:
    def test_incremental_roundtrip(self, spark, tmp_path):
        from uofi_payroll_etl_main_spark.llm.dedup import (
            build_dedup_index,
            dedup_against_index,
        )

        old = spark.createDataFrame(
            [(0, "alpha beta"), (2, "ALPHA   beta"), (4, "gamma")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (11, "alpha beta"),      # known (normalizes onto 0/2's print)
                (13, "delta"),           # fresh
                (15, "  delta "),        # in-batch dup of 13 after norm
                (17, "gamma"),           # known
            ],
            "doc_id long, text string",
        )
        path = str(tmp_path / "idx")
        build_dedup_index(old, path)
        got = {r["new_id"]: r for r in dedup_against_index(new, path).collect()}
        assert set(got) == {11, 13, 17}
        assert got[11]["is_new"] is False and got[11]["known_keeper_id"] == 0
        assert got[13]["is_new"] is True and got[13]["known_keeper_id"] is None
        assert got[13]["n_batch_dups"] == 2  # 13 + 15 fold in-batch
        assert got[17]["is_new"] is False and got[17]["known_keeper_id"] == 4


class TestScd2:
    def test_run_compression_and_intervals(self, spark):
        from uofi_payroll_etl_main_spark.scd import scd2_build

        log = spark.createDataFrame(
            [
                (1, 10, 100, "A"),
                (1, 20, 101, "A"),   # same state -> compressed away
                (1, 30, 102, "B"),   # change
                (1, 40, 103, "A"),   # back to A = NEW run
                (2, 10, 104, None),  # null initial state
                (2, 20, 105, "X"),   # null -> value opens a run
            ],
            "k long, t long, id long, attr string",
        )
        got = sorted(
            (
                tuple(r)
                for r in scd2_build(log, "k", "t", ["attr"], tiebreak="id").collect()
            ),
            key=lambda t: (t[0], t[2]),  # (key, valid_from); attr may be None
        )
        assert got == [
            (1, "A", 10, 30, False),
            (1, "B", 30, 40, False),
            (1, "A", 40, None, True),
            (2, None, 10, 20, False),
            (2, "X", 20, None, True),
        ]

    def test_single_shuffle(self, spark):
        from uofi_payroll_etl_main_spark.scd import scd2_build

        log = spark.createDataFrame(
            [(1, 10, 1, "A")], "k long, t long, id long, attr string"
        )
        plan = (
            scd2_build(log, "k", "t", ["attr"], tiebreak="id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # both windows share partitioning+order -> exactly one exchange
        assert plan.count("Exchange") == 1


class TestLinkagePairs:
    def test_scoring_and_blocking(self, spark):
        from uofi_payroll_etl_main_spark.joins import linkage_pairs

        df = spark.createDataFrame(
            [
                (1, "b1", "X", 100.0),
                (2, "b1", "X", 120.0),   # both agree with 1 -> 2.0
                (3, "b1", "Y", 105.0),   # segment disagrees with 1 -> 0.5
                (4, "b2", "X", 100.0),   # other block: never paired with 1
                (5, "b1", None, 500.0),  # null segment
                (6, "b1", None, 510.0),  # null==null agrees (null-safe)
            ],
            "id long, blk string, seg string, bal double",
        )
        out = linkage_pairs(
            df, block_on="blk", id_col="id",
            exact_fields=["seg"], band_fields=[("bal", 50.0)], threshold=1.5,
        )
        got = {(r["id_a"], r["id_b"]): r["score"] for r in out.collect()}
        assert got == {(1, 2): 2.0, (5, 6): 2.0}

    def test_block_join_is_equi(self, spark):
        from uofi_payroll_etl_main_spark.joins import linkage_pairs

        df = spark.createDataFrame(
            [(1, "b", "X", 1.0)], "id long, blk string, seg string, bal double"
        )
        plan = (
            linkage_pairs(df, "blk", "id", ["seg"], [("bal", 1.0)])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


class TestPitLookup:
    def test_no_future_leakage(self, spark):
        """A fact row dated between two state changes must see the
        EARLIER state; a fact on a change date sees the new state
        (half-open [from, to) intervals)."""
        from uofi_payroll_etl_main_spark.scd import scd2_build

        log = spark.createDataFrame(
            [(1, 10, 100, "A"), (1, 30, 101, "B")],
            "custkey long, obs_date long, obs_id long, priority string",
        )
        hist = scd2_build(log, "custkey", "obs_date", ["priority"], tiebreak="obs_id")
        facts = spark.createDataFrame(
            [(1, 5), (1, 10), (1, 29), (1, 30), (1, 99)], "custkey long, d long"
        )
        j = facts.join(
            hist,
            (facts["custkey"] == hist["custkey"])
            & (hist["valid_from"] <= facts["d"])
            & (facts["d"] < F.coalesce(hist["valid_to"], F.lit(2**62))),
            "left",
        ).select(facts["d"], hist["priority"])
        got = dict((r["d"], r["priority"]) for r in j.collect())
        assert got == {5: None, 10: "A", 29: "A", 30: "B", 99: "B"}


class TestLinkageBanded:
    def test_identical_to_plain_linkage(self, spark):
        import random

        from uofi_payroll_etl_main_spark.joins import (
            linkage_pairs,
            linkage_pairs_banded,
        )

        rnd = random.Random(3)
        data = [
            (i, f"b{rnd.randrange(3)}", f"S{rnd.randrange(2)}",
             round(rnd.uniform(0, 500), 2))
            for i in range(300)
        ]
        df = spark.createDataFrame(data, "id long, blk string, seg string, bal double")
        plain = linkage_pairs(
            df, "blk", "id", ["seg"], [("bal", 25.0)], threshold=1.5
        )
        banded = linkage_pairs_banded(
            df, "blk", "id", ["seg"], ("bal", 25.0), threshold=1.5
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, banded.collect())
        )

    def test_rejects_non_mandatory_band_threshold(self, spark):
        import pytest as _pytest

        from uofi_payroll_etl_main_spark.joins import linkage_pairs_banded

        df = spark.createDataFrame([(1, "b", "X", 1.0)],
                                   "id long, blk string, seg string, bal double")
        with _pytest.raises(ValueError, match="mandatory"):
            # threshold 0.4 is reachable without band agreement -> lossy
            linkage_pairs_banded(df, "blk", "id", ["seg"], ("bal", 25.0),
                                 threshold=0.4)


def test_sketch_overlap_tracks_exact_intersections(spark):
    from uofi_payroll_etl_main_spark.aggregates import sketch_overlap_distinct

    # set A: users 0..999; set B: 500..1499 (overlap 500); set C: 2000..2099 (disjoint from A)
    rows = [("A", u) for u in range(1000)]
    rows += [("B", u) for u in range(500, 1500)]
    rows += [("C", u) for u in range(2000, 2100)]
    rows += [("A", u) for u in range(0, 300)]  # duplicates must not inflate
    df = spark.createDataFrame(rows, "seg string, user_id long")
    got = {(r.set_a, r.set_b): r for r in
           sketch_overlap_distinct(df, "seg", "user_id").collect()}
    ab = got[("A", "B")]
    assert abs(ab.intersect_est - 500) <= 0.1 * 500
    assert abs(ab.union_est - 1500) <= 0.1 * 1500
    assert abs(ab.jaccard_est - 500 / 1500) < 0.05
    ac = got[("A", "C")]
    assert ac.intersect_est <= 0.05 * 1000  # disjoint: near-zero, clamped >= 0
    assert ac.intersect_est >= 0


def test_sentence_split_boundaries_and_indices(spark):
    from uofi_payroll_etl_main_spark.llm.text import sentence_split

    df = spark.createDataFrame(
        [
            (1, "First one. Second two!  Third?! Fourth"),
            (2, "no boundary here"),
            (3, "Trailing dot."),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = [(r.doc_id, r.sent_idx, r.sentence, r.n_chars)
           for r in sentence_split(df).orderBy("doc_id", "sent_idx").collect()]
    assert got == [
        (1, 0, "First one.", 10),
        (1, 1, "Second two!", 11),
        (1, 2, "Third?!", 7),
        (1, 3, "Fourth", 6),
        (2, 0, "no boundary here", 16),
        (3, 0, "Trailing dot.", 13),
    ]


def test_l_diversity_flags_homogeneous_class(spark):
    from uofi_payroll_etl_main_spark.report import l_diversity

    rows = [("US", "cardio", "d1")] * 4          # k=4 but ONE diagnosis -> leak
    rows += [("FR", "cardio", f"d{i}") for i in range(3)]  # 3 distinct -> ok
    df = spark.createDataFrame(rows, "country string, ward string, diag string")
    got = {(r.country, r.ward): r for r in
           l_diversity(df, ["country", "ward"], "diag", l=3).collect()}
    us = got[("US", "cardio")]
    assert us.class_size == 4 and us.n_sensitive == 1 and us.at_risk
    fr = got[("FR", "cardio")]
    assert fr.n_sensitive == 3 and not fr.at_risk

    import pytest as _pytest
    with _pytest.raises(ValueError, match="l must be"):
        l_diversity(df, ["country"], "diag", l=0)


def test_normalize_unicode_nfc_and_nfkc(spark):
    from uofi_payroll_etl_main_spark.llm.text import normalize_unicode

    df = spark.createDataFrame(
        [
            (1, "café"),      # decomposed -> café
            (2, "plain ascii"),     # unchanged
            (3, "ﬁne"),        # ﬁ ligature: NFC keeps, NFKC folds
            (4, None),
        ],
        "doc_id long, text string",
    )
    nfc = {r.doc_id: r for r in normalize_unicode(df).collect()}
    assert nfc[1].text_norm == "café" and nfc[1].changed
    assert nfc[2].text_norm == "plain ascii" and not nfc[2].changed
    assert nfc[3].text_norm == "ﬁne" and not nfc[3].changed
    assert nfc[4].text_norm is None and not nfc[4].changed

    nfkc = {r.doc_id: r for r in normalize_unicode(df, form="NFKC").collect()}
    assert nfkc[3].text_norm == "fine" and nfkc[3].changed

    import pytest as _pytest
    with _pytest.raises(ValueError, match="normalization form"):
        normalize_unicode(df, form="NFX")


def test_cms_join_size_upper_bound_and_accuracy(spark):
    from uofi_payroll_etl_main_spark.aggregates import cms_build, cms_join_size

    # A: keys 0..199 once each + key 7 hot (x50); B: keys 100..299 twice
    a_rows = [(k,) for k in range(200)] + [(7,)] * 50
    b_rows = [(k,) for k in range(100, 300)] * 2
    a = spark.createDataFrame(a_rows, "k long")
    b = spark.createDataFrame(b_rows, "k long")
    true_size = a.join(b, "k").count()  # 100 matched keys x 1 x 2 = 200
    assert true_size == 200
    est = cms_join_size(
        cms_build(a, "k"), cms_build(b, "k")
    ).first().join_size_est
    assert est >= true_size              # CM inner product never underestimates
    assert est <= true_size + 250 * 400 * 2.72 / 2048  # eps bound, generous
    # disjoint sides: near-zero (collision noise only)
    c = spark.createDataFrame([(k,) for k in range(10000, 10100)], "k long")
    est0 = cms_join_size(cms_build(a, "k"), cms_build(c, "k")).first().join_size_est
    assert est0 <= 30


def test_mann_whitney_hand_computed(spark):
    import math

    from uofi_payroll_etl_main_spark.aggregates import mann_whitney_u

    # no ties: A={1,2,3} all below B={4,5,6} -> U_a=0, r=-1
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0), ("b", 6.0),
         ("c", 99.0)],  # other groups ignored
        "g string, v double",
    )
    r = mann_whitney_u(df, "g", "v", "a", "b").first()
    assert (r.n_a, r.n_b, r.u_stat, r.r_rb) == (3, 3, 0.0, -1.0)
    assert abs(r.z - round(-4.5 / math.sqrt(9 * 7 / 12), 6)) < 1e-9

    # ties: A={1,1,2}, B={2,3,3} -> mid-ranks 1.5/1.5/3.5 -> U_a=0.5,
    # tie-corrected sigma^2 = (9/12)*(7 - 18/30) = 4.8
    df2 = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0), ("b", 3.0)],
        "g string, v double",
    )
    r2 = mann_whitney_u(df2, "g", "v", "a", "b").first()
    assert r2.u_stat == 0.5
    assert abs(r2.z - round((0.5 - 4.5) / math.sqrt(4.8), 6)) < 1e-9
    assert abs(r2.r_rb - round(2 * 0.5 / 9 - 1, 6)) < 1e-9


def test_kruskal_wallis_hand_computed(spark):
    from uofi_payroll_etl_main_spark.aggregates import kruskal_wallis

    # no ties, 3 separated groups of 2: ranks a={1,2} b={3,4} c={5,6};
    # H = 12/(6*7) * (9/2 + 49/2 + 121/2) - 3*7 = 4.571429 (max
    # separation for this layout); no ties -> h_corrected == h
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0),
         ("c", 5.0), ("c", 6.0)],
        "g string, v double",
    )
    r = kruskal_wallis(df, "g", "v").first()
    assert (r.n_groups, r.n_total) == (3, 6)
    expect = 12.0 / 42.0 * (4.5 + 24.5 + 60.5) - 21.0
    assert abs(r.h - round(expect, 6)) < 1e-9
    assert r.h_corrected == r.h

    # ties across groups: a={1,2}, b={2,3} -> mid-ranks a={1,2.5},
    # b={2.5,4}; H = 12/(4*5) * (3.5^2/2 + 6.5^2/2) - 15 = 1.35;
    # tie term t=2 at v=2 -> C = 1 - 6/60 = 0.9 -> H_c = 1.5.
    # NULL group/value rows excluded, not crashed on.
    df2 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 2.0), ("b", 3.0),
         (None, 9.0), ("a", None)],
        "g string, v double",
    )
    r2 = kruskal_wallis(df2, "g", "v").first()
    assert (r2.n_groups, r2.n_total) == (2, 4)
    assert abs(r2.h - 1.35) < 1e-9
    assert abs(r2.h_corrected - 1.5) < 1e-9

    # identical distributions -> H ~ 0 (exactly 0 for mirrored ranks?
    # no: compute directly) -- k=1 group edge: H undefined-ish but
    # finite formula; just assert the one-group call returns a row
    one = kruskal_wallis(
        spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double"),
        "g", "v",
    ).first()
    assert one.n_groups == 1 and one.n_total == 2


def test_brown_forsythe_numpy_replica(spark):
    import numpy as np

    from uofi_payroll_etl_main_spark.aggregates import brown_forsythe

    # mixed odd/even groups, ties inside a group, NULLs excluded
    ga = [1.0, 2.0, 2.0, 9.0]          # even n: median averages middles
    gb = [10.0, 20.0, 30.0]            # odd n
    gc = [5.0, 5.0, 5.0, 5.0, 50.0]    # heavy ties + outlier
    rows = (
        [("a", v) for v in ga] + [("b", v) for v in gb]
        + [("c", v) for v in gc] + [(None, 1.0), ("a", None)]
    )
    r = brown_forsythe(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).first()

    zs = [np.round(np.abs(np.array(g) - np.median(g)), 6)
          for g in (ga, gb, gc)]
    allz = np.concatenate(zs)
    zbar = allz.mean()
    B = sum(len(z) * (z.mean() - zbar) ** 2 for z in zs)
    W = sum(((z - z.mean()) ** 2).sum() for z in zs)
    N, k = len(allz), 3
    assert (r.n_groups, r.n_total) == (k, N)
    assert abs(r.between_ss - round(B, 6)) < 1e-6
    assert abs(r.within_ss - round(W, 6)) < 1e-6
    assert abs(r.f_bf - round((N - k) / (k - 1) * B / W, 6)) < 1e-6

    # single group: F undefined -> null, sums still reported
    one = brown_forsythe(
        spark.createDataFrame([("a", 1.0), ("a", 5.0)], "g string, v double"),
        "g", "v",
    ).first()
    assert one.n_groups == 1 and one.f_bf is None


def test_chi_square_drift_hand_contingency(spark):
    from uofi_payroll_etl_main_spark.report import chi_square_drift

    a = spark.createDataFrame([("x",)] * 30 + [("y",)] * 10, "c string")
    b = spark.createDataFrame([("x",)] * 10 + [("y",)] * 30, "c string")
    rows = {r.category: r for r in chi_square_drift(a, b, "c").collect()}
    # pooled expectation is 20 per cell; chi2 = 4 * (10^2/20) = 20
    assert rows["x"].chi2_term == 10.0 and rows["y"].chi2_term == 10.0
    assert rows["x"].share_a == 0.75 and rows["x"].share_b == 0.25

    # identical slices -> zero statistic; nulls bucket as 'NULL'
    c = spark.createDataFrame([("x",), (None,)], "c string")
    same = chi_square_drift(c, c, "c").collect()
    assert {r.category for r in same} == {"x", "NULL"}
    assert all(r.chi2_term == 0.0 for r in same)


def test_frequent_itemsets_hand_baskets(spark):
    from uofi_payroll_etl_main_spark.aggregates import frequent_itemsets

    baskets = {
        1: [10, 20, 30],
        2: [10, 20, 30],
        3: [10, 20],
        4: [40],          # infrequent item: pruned at L1
        5: [10, 40, 40],  # duplicate item rows collapse
    }
    rows = [(o, i) for o, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, "o long, i long")
    got = {(r.size, tuple(r.items)): r.support
           for r in frequent_itemsets(df, "o", "i", min_support=2).collect()}
    assert got[(1, (10,))] == 4 and got[(1, (20,))] == 3 and got[(1, (30,))] == 2
    # 40 appears in baskets 4 and 5 (its in-basket duplicate collapses):
    # support 2, frequent as a single item...
    assert got[(1, (40,))] == 2
    assert got[(2, (10, 20))] == 3
    assert got[(2, (10, 30))] == 2 and got[(2, (20, 30))] == 2
    assert got[(3, (10, 20, 30))] == 2
    assert (2, (10, 40)) not in got                   # co-occurs only once


def test_association_rules_confidence_and_lift(spark):
    from uofi_payroll_etl_main_spark.aggregates import association_rules

    # 4 baskets: {10,20} x3, {10} x1 -> rule 10->20 conf 3/4, 20->10 conf 1
    rows = [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 20), (4, 10)]
    df = spark.createDataFrame(rows, "o long, i long")
    got = {(r.antecedent, r.consequent): r for r in
           association_rules(df, "o", "i", min_support=2).collect()}
    r = got[(10, 20)]
    assert r.support == 3 and r.confidence == 0.75
    assert r.lift == round(0.75 * 4 / 3, 6)  # P(20)=3/4 -> lift = 1
    r2 = got[(20, 10)]
    assert r2.confidence == 1.0 and r2.lift == 1.0
    # min_confidence filters the weaker direction
    strict = association_rules(df, "o", "i", min_support=2, min_confidence=0.9)
    assert {(r.antecedent, r.consequent) for r in strict.collect()} == {(20, 10)}


def test_spatial_radius_join_matches_brute_force(spark):
    import random

    from uofi_payroll_etl_main_spark.joins import spatial_radius_join

    rnd = random.Random(5)
    pa = [(i, rnd.uniform(0, 20), rnd.uniform(0, 20)) for i in range(120)]
    pb = [(j, rnd.uniform(0, 20), rnd.uniform(0, 20)) for j in range(150)]
    a = spark.createDataFrame(pa, "id_a long, x double, y double")
    b = spark.createDataFrame(pb, "id_b long, x double, y double")
    r = 1.7
    got = {(row.id_a, row.id_b) for row in spatial_radius_join(a, b, r).collect()}
    want = {
        (i, j)
        for i, xa, ya in pa
        for j, xb, yb in pb
        if (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r
    }
    assert got == want and len(want) > 50  # dense enough to be a real check

    # boundary: distance exactly == radius is INCLUDED; cell-boundary
    # neighbors (different cells) are still found
    a2 = spark.createDataFrame([(1, 0.0, 0.0)], "id_a long, x double, y double")
    b2 = spark.createDataFrame(
        [(1, 2.0, 0.0), (2, 2.0001, 0.0), (3, -1.999, 0.0)],
        "id_b long, x double, y double",
    )
    got2 = {row.id_b for row in spatial_radius_join(a2, b2, 2.0).collect()}
    assert got2 == {1, 3}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="radius"):
        spatial_radius_join(a2, b2, 0)
    with _pytest.raises(ValueError, match="metric"):
        spatial_radius_join(a2, b2, 1.0, metric="manhattan")


def _haversine_ref(lat1, lon1, lat2, lon2):
    import math

    r = 6371.0088
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = math.radians(lat2 - lat1) / 2.0
    dl = math.radians(lon2 - lon1) / 2.0
    h = math.sin(dp) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl) ** 2
    return 2.0 * r * math.asin(math.sqrt(min(1.0, h)))


def test_spatial_haversine_matches_brute_force(spark):
    import random

    from uofi_payroll_etl_main_spark.joins import spatial_radius_join

    rnd = random.Random(11)
    pa = [
        (i, rnd.uniform(-180, 180), rnd.uniform(-88, 88)) for i in range(150)
    ]
    pb = [
        (j, rnd.uniform(-180, 180), rnd.uniform(-88, 88)) for j in range(150)
    ]
    a = spark.createDataFrame(pa, "id_a long, x double, y double")
    b = spark.createDataFrame(pb, "id_b long, x double, y double")
    r_km = 1500.0
    got = {
        (row.id_a, row.id_b)
        for row in spatial_radius_join(a, b, r_km, metric="haversine").collect()
    }
    want = {
        (i, j)
        for i, lon_a, lat_a in pa
        for j, lon_b, lat_b in pb
        if _haversine_ref(lat_a, lon_a, lat_b, lon_b) <= r_km
    }
    assert got == want and len(want) > 100  # dense enough to be a real check


def test_spatial_haversine_antimeridian_and_poles(spark):
    from uofi_payroll_etl_main_spark.joins import spatial_radius_join

    # antimeridian: lon +179.9 and -179.9 at the same latitude are ~17 km
    # apart, an ocean away in naive lon arithmetic
    a = spark.createDataFrame(
        [(1, 179.9, 10.0), (2, 0.0, 89.9)], "id_a long, x double, y double"
    )
    b = spark.createDataFrame(
        [
            (10, -179.9, 10.0),   # wraps: ~21.9 km from a1
            (11, 179.9, 10.5),    # same side, ~55.6 km from a1
            (12, -179.9, -10.0),  # wrong hemisphere
            (20, 180.0, 89.9),    # near-pole: 180 deg of longitude away,
                                  # but only ~22 km over the top from a2
            (21, -90.0, 89.95),   # near-pole, different meridian
        ],
        "id_b long, x double, y double",
    )
    got = {
        (row.id_a, row.id_b): row.dist
        for row in spatial_radius_join(a, b, 100.0, metric="haversine").collect()
    }
    assert set(got) == {(1, 10), (1, 11), (2, 20), (2, 21)}
    for pair, dist in got.items():
        a_row = {1: (179.9, 10.0), 2: (0.0, 89.9)}[pair[0]]
        b_row = {10: (-179.9, 10.0), 11: (179.9, 10.5), 20: (180.0, 89.9), 21: (-90.0, 89.95)}[pair[1]]
        want = _haversine_ref(a_row[1], a_row[0], b_row[1], b_row[0])
        assert abs(dist - want) < 1e-5, (pair, dist, want)


def test_mask_shape_preserves_layout(spark):
    from uofi_payroll_etl_main_spark.expressions import mask_shape

    df = spark.createDataFrame(
        [(1, "Acme-42 Corp."), (2, None), (3, "+1 (217) 555-0133")],
        "id long, s string",
    )
    got = {r.id: r.m for r in df.select("id", mask_shape("s").alias("m")).collect()}
    assert got[1] == "Xxxx-99 Xxxx."
    assert got[2] is None
    assert got[3] == "+9 (999) 999-9999"


def test_lag_features_per_key_ordering(spark):
    import datetime

    from uofi_payroll_etl_main_spark.streaming.windows import lag_features

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, "a", t0 + datetime.timedelta(minutes=i), float(i)) for i in range(5)
    ] + [(99, "b", t0, 42.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp, value double")
    got = {r.event_id: (r.lag_1, r.lag_3) for r in
           lag_features(df, lags=(1, 3)).collect()}
    assert got[0] == (None, None)       # series start: nulls, no wraparound
    assert got[3] == (2.0, 0.0)
    assert got[4] == (3.0, 1.0)
    assert got[99] == (None, None)      # other key never leaks in


def test_bootstrap_ci_statistics(spark):
    """Poisson-bootstrap CI: on a synthetic skewed sample the 95% CI
    must bracket the true sample mean, be ordered, and shrink roughly
    like 1/sqrt(n); the deterministic weights must average ~1 (they ARE
    the resample)."""
    import math
    import random

    from pyspark.sql import functions as F

    from uofi_payroll_etl_main_spark.aggregates import bootstrap_ci

    rnd = random.Random(7)
    rows = [("g", i, rnd.lognormvariate(0.0, 0.7)) for i in range(400)]
    rows += [("h", 10_000 + i, rnd.lognormvariate(0.0, 0.7)) for i in range(6400)]
    df = spark.createDataFrame(rows, "grp string, rid long, val double")
    out = {
        r.grp: r
        for r in bootstrap_ci(
            df, "grp", "val", "rid", n_replicates=200
        ).collect()
    }
    true_means = {}
    for gname in ("g", "h"):
        vals = [round(v, 2) for g, _, v in rows if g == gname]  # decimal(18,2) cast
        true_means[gname] = sum(vals) / len(vals)
    for gname, r in out.items():
        assert r.ci_lo <= r.point_mean <= r.ci_hi, r
        assert abs(r.point_mean - true_means[gname]) < 1e-4, r
    # 16x the sample -> CI roughly 4x narrower (allow generous slack)
    w_g = out["g"].ci_hi - out["g"].ci_lo
    w_h = out["h"].ci_hi - out["h"].ci_lo
    assert w_h < w_g / 2.0, (w_g, w_h)

    # the md5-derived weights really are Poisson(1): mean ~= 1
    from uofi_payroll_etl_main_spark.aggregates import _POISSON1_HEX

    u = F.substring(F.md5(F.concat(F.col("rid").cast("string"), F.lit(":0"))), 1, 8)
    w = None
    for t in _POISSON1_HEX:
        ind = F.when(u >= F.lit(t), 1).otherwise(0)
        w = ind if w is None else (w + ind)
    mean_w = df.select(F.avg(w).alias("m")).first().m
    assert abs(mean_w - 1.0) < 0.05, mean_w

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lo_rank"):
        bootstrap_ci(df, "grp", "val", "rid", n_replicates=10, lo_rank=0)


def test_bootstrap_ci_tiny_group_drops_empty_replicates(spark):
    """A 2-row group gets zero-total-weight replicates with probability
    ~e^-2 per replicate (~27 of 200): those have NO mean and must be
    DROPPED before ranking (the oracle's HAVING sum(w) > 0), not sorted
    NULL-first, which would shift lo/hi onto the wrong replicate.
    Asserted against a pure-Python replica of the md5 weight derivation."""
    import hashlib

    from uofi_payroll_etl_main_spark.aggregates import _POISSON1_HEX, bootstrap_ci

    rows = [("t", 1, 10.0), ("t", 2, 30.0)]
    df = spark.createDataFrame(rows, "grp string, rid long, val double")
    got = bootstrap_ci(
        df, "grp", "val", "rid", n_replicates=200, lo_rank=5, hi_rank=196
    ).first()

    def weight(rid, r):
        hx = hashlib.md5(f"{rid}:{r // 4}".encode()).hexdigest()
        u = hx[(r % 4) * 8:(r % 4) * 8 + 8]
        return sum(1 for t in _POISSON1_HEX if u >= t)

    means = []
    n_empty = 0
    for r in range(200):
        sw = swv = 0
        for rid, v in ((1, 10.0), (2, 30.0)):
            w = weight(rid, r)
            sw += w
            swv += w * v
        if sw == 0:
            n_empty += 1
            continue
        means.append((round(swv / sw, 6), r))
    assert n_empty > 0, "fixture must actually produce empty replicates"
    means.sort()
    assert got.ci_lo == means[4][0], (got, means[4], n_empty)
    # here ~27 replicates die, so rank 196 of the survivors does not
    # exist -- both engines agree the bound is NULL rather than a
    # NULL-shifted wrong mean
    if len(means) >= 196:
        assert got.ci_hi == means[195][0], (got, means[195], n_empty)
    else:
        assert got.ci_hi is None, (got, len(means))
    # a rank inside the surviving set is the survivors' order statistic
    got2 = bootstrap_ci(
        df, "grp", "val", "rid", n_replicates=200, lo_rank=5,
        hi_rank=len(means) - 2,
    ).first()
    assert got2.ci_hi == means[len(means) - 3][0], (got2, n_empty)


def test_point_in_polygon_matches_reference(spark):
    """Even-odd ray casting vs a pure-Python replica on a non-convex
    polygon, including concavity pockets and outside-bbox points; the
    Spark column expression and the shared SQL text must agree with
    each other and the replica."""
    import random

    from pyspark.sql import functions as F

    from uofi_payroll_etl_main_spark.joins import (
        point_in_polygon,
        point_in_polygon_sql,
    )

    poly = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (5.0, 5.0), (0.0, 10.0)]

    def ref(px, py):
        inside = False
        n = len(poly)
        for i in range(n):
            x1, y1 = poly[i]
            x2, y2 = poly[(i + 1) % n]
            if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                inside = not inside
        return inside

    rnd = random.Random(6)
    pts = [(i, rnd.uniform(-2, 12), rnd.uniform(-2, 12)) for i in range(400)]
    pts += [(1000, 5.0, 2.0), (1001, 5.0, 9.0), (1002, 1.0, 8.5), (1003, 8.0, 8.0)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    got = {r.id: r.inside for r in point_in_polygon(df, poly).collect()}
    for i, x, y in pts:
        assert got[i] == ref(x, y), (i, x, y)
    # the concavity pocket between the two top lobes is OUTSIDE
    assert got[1000] and not got[1001] and got[1002] and got[1003]
    # the generated SQL text computes the identical flag in Spark SQL
    sql_flag = point_in_polygon_sql(poly, "x", "y")
    got_sql = {
        r.id: r.f for r in df.selectExpr("id", f"{sql_flag} AS f").collect()
    }
    assert got_sql == got

    import pytest as _pytest

    with _pytest.raises(ValueError, match="vertices"):
        point_in_polygon(df, [(0, 0), (1, 1)])


def test_kmv_set_ops_accuracy_and_exact_mode(spark):
    """KMV set algebra: on planted overlapping sets the union /
    intersection / difference estimates land within the bottom-k error
    envelope (~1/sqrt(k-1)); sets smaller than k are EXACT."""
    from uofi_payroll_etl_main_spark.aggregates import kmv_set_ops

    rows = [("A", i) for i in range(800)] + [("B", i) for i in range(400, 1200)]
    df = spark.createDataFrame(rows, "s string, k long")
    r = kmv_set_ops(df, "s", "k", k=64).first()
    # truth: |A|=|B|=800, union=1200, inter=400, diffs=400 each
    assert abs(r.est_a - 800) / 800 < 0.25, r
    assert abs(r.est_b - 800) / 800 < 0.25, r
    assert abs(r.union_est - 1200) / 1200 < 0.25, r
    assert abs(r.intersect_est - 400) / 400 < 0.45, r  # compounded error
    assert abs(r.diff_ab_est - 400) / 400 < 0.6, r
    assert abs(r.diff_ba_est - 400) / 400 < 0.6, r

    tiny = spark.createDataFrame(
        [("X", i) for i in range(10)] + [("Y", i) for i in range(5, 15)],
        "s string, k long",
    )
    t = kmv_set_ops(tiny, "s", "k", k=64).first()
    assert (t.est_a, t.est_b, t.union_est, t.intersect_est) == (10.0, 10.0, 15.0, 5.0), t
    assert (t.diff_ab_est, t.diff_ba_est) == (5.0, 5.0), t


def test_skew_agg_exact_and_salted(spark):
    """skew_agg: exact vs plain groupBy on a planted hot key (one key
    holds 90% of rows, null members and null values mixed in), and the
    phase-1 plan really groups by (key, salt) -- the hot key is spread
    over many reducers before the merge."""
    from uofi_payroll_etl_main_spark.aggregates import skew_agg

    rows = [("hot", i % 50, float(i % 7)) for i in range(900)]
    rows += [("cold%d" % (i % 5), i, float(i)) for i in range(100)]
    rows += [("hot", None, 1.0), ("nullval", 1, None)]
    df = spark.createDataFrame(rows, "k string, m long, v double")

    got = {r["k"]: r for r in skew_agg(df, "k", "v", "m", salt_buckets=8).collect()}
    want = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("total_value"),
            F.countDistinct("m").cast("long").alias("n_members"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n_rows"] == want[k]["n_rows"], k
        assert got[k]["n_members"] == want[k]["n_members"], k
        assert abs((got[k]["total_value"] or 0) - (want[k]["total_value"] or 0)) < 1e-9, k

    plan = skew_agg(df, "k", "v", "m", salt_buckets=8)._jdf.queryExecution().toString()
    assert "__salt" in plan  # phase 1 really salts the grouping key


def test_dp_counts_noise_shape_and_determinism(spark):
    """dp_counts: the md5-Laplace noise is deterministic across runs,
    zero-centered with scale ~ sensitivity/epsilon over many keys, and
    the release never exposes the true count column."""
    from uofi_payroll_etl_main_spark.report import dp_counts

    rows = [("k%04d" % (i % 500), i) for i in range(5000)]
    df = spark.createDataFrame(rows, "k string, x long")
    out = dp_counts(df, "k", epsilon=1.0)
    assert set(out.columns) == {"k", "noisy_count", "epsilon"}
    a = {r["k"]: r["noisy_count"] for r in out.collect()}
    b = {r["k"]: r["noisy_count"] for r in dp_counts(df, "k", epsilon=1.0).collect()}
    assert a == b  # deterministic noise
    noises = [v - 10.0 for v in a.values()]  # every key has true count 10
    n = len(noises)
    mean = sum(noises) / n
    mad = sum(abs(x) for x in noises) / n  # E|Laplace(b)| = b = 1.0
    assert abs(mean) < 0.25, mean
    assert 0.7 < mad < 1.4, mad
    # tighter epsilon -> proportionally larger noise
    wide = {r["k"]: r["noisy_count"] for r in dp_counts(df, "k", epsilon=0.1).collect()}
    mad10 = sum(abs(v - 10.0) for v in wide.values()) / n
    assert 6.0 < mad10 < 15.0, mad10


def test_heavy_hitters_exact_with_adversarial_tail(spark):
    """heavy_hitters: on a stream with two planted heavy keys buried in
    a huge distinct tail, the result equals the plain-groupBy answer
    exactly (MG candidates are a lossless superset), and the guard
    rejects an undersized member_cap."""
    import pytest as _pytest

    from uofi_payroll_etl_main_spark.aggregates import heavy_hitters

    rows = [("hot_a",)] * 3000 + [("hot_b",)] * 1500
    rows += [("tail_%d" % i,) for i in range(5000)]  # 5000 singletons
    df = spark.createDataFrame(rows, "k string").repartition(8)
    got = {
        r["k"]: (r["n_rows"], r["share"])
        for r in heavy_hitters(df, "k", phi=0.1, member_cap=64).collect()
    }
    n = 3000 + 1500 + 5000
    want = {}
    for k, c in (("hot_a", 3000), ("hot_b", 1500)):
        if c > 0.1 * n:
            want[k] = (c, round(c / n, 6))
    assert got == want, got
    with _pytest.raises(ValueError):
        heavy_hitters(df, "k", phi=0.01, member_cap=50)


def test_heavy_hitters_null_keys_excluded_both_sides(spark):
    """heavy_hitters on a NULL-heavy key column: NULLs are excluded
    from candidates AND from the N denominator (ADVICE r7: the MG pass
    could never track None, so counting nulls only in the denominator
    silently deflated every share)."""
    from uofi_payroll_etl_main_spark.aggregates import heavy_hitters

    rows = [("hot",)] * 400 + [(None,)] * 600 + [("cold_%d" % i,) for i in range(100)]
    df = spark.createDataFrame(rows, "k string").repartition(4)
    got = {
        r["k"]: (r["n_rows"], r["share"])
        for r in heavy_hitters(df, "k", phi=0.5, member_cap=16).collect()
    }
    # denominator is the 500 non-null rows: hot = 400/500 = 0.8 > 0.5.
    # with nulls in the denominator it would be 400/1100 = 0.36 -> empty.
    assert got == {"hot": (400, 0.8)}, got


def test_ks_test_ignores_null_values(spark):
    """ks_test: NULL measurements are excluded from the ECDFs (ADVICE
    r7: Spark windows sort NULL first, DuckDB last -- letting NULLs in
    shifts d_stat engine-dependently); result equals the clean-data
    run and group counts exclude the null rows."""
    from uofi_payroll_etl_main_spark.aggregates import ks_test

    clean = [("a", float(v)) for v in (1, 2, 3, 4, 5)] + [
        ("b", float(v)) for v in (3, 4, 5, 6, 7)
    ]
    dirty = clean + [("a", None), ("b", None), ("a", None)]
    df_c = spark.createDataFrame(clean, "g string, v double")
    df_d = spark.createDataFrame(dirty, "g string, v double")
    rc = ks_test(df_c, "g", "v", "a", "b").collect()[0]
    rd = ks_test(df_d, "g", "v", "a", "b").collect()[0]
    assert rd["n_a"] == 5 and rd["n_b"] == 5
    assert rd.asDict() == rc.asDict()


def test_welch_ttest_numpy_replica(spark):
    import numpy as np

    from uofi_payroll_etl_main_spark.aggregates import welch_ttest

    a = [1.0, 2.0, 3.0, 4.0, 100.0]     # high variance
    b = [2.0, 2.5, 3.0]                 # low variance
    rows = [("x", v) for v in a] + [("y", v) for v in b] + [("z", 9.9), ("x", None)]
    r = welch_ttest(
        spark.createDataFrame(rows, "g string, v double"), "g", "v", "x", "y"
    ).first()
    na, nb = len(a), len(b)
    ma, mb = np.mean(a), np.mean(b)
    va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
    sa, sb = va / na, vb / nb
    t = (ma - mb) / np.sqrt(sa + sb)
    df = (sa + sb) ** 2 / (sa**2 / (na - 1) + sb**2 / (nb - 1))
    assert (r.n_a, r.n_b) == (na, nb)
    assert abs(r.mean_a - round(ma, 6)) < 1e-9
    assert abs(r.t_stat - round(t, 6)) < 1e-6
    assert abs(r.df - round(df, 6)) < 1e-6

    # degenerate: single-row group -> t/df null, counts still real
    one = welch_ttest(
        spark.createDataFrame([("x", 1.0), ("y", 2.0), ("y", 3.0)],
                              "g string, v double"),
        "g", "v", "x", "y",
    ).first()
    assert one.n_a == 1 and one.t_stat is None and one.df is None


def test_rouge_n_hand_case(spark):
    from uofi_payroll_etl_main_spark.llm.text import rouge_n

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat lay on the mat"),
            (3, "completely different words entirely"),
            (4, "x"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 4)], "ref_id long, cand_id long"
    )
    r1 = {(r.ref_id, r.cand_id): r for r in rouge_n(docs, pairs, n=1).collect()}
    # ref 1: [the,cat,sat,on,the,mat]; cand 2: [the,cat,lay,on,the,mat]
    # clipped overlap: the*2, cat, on, mat = 5 of 6
    m = r1[(1, 2)]
    assert (m.n_overlap, m.n_ref, m.n_cand) == (5, 6, 6)
    assert abs(m.f1 - round(5 / 6, 6)) < 1e-9
    assert r1[(1, 3)].n_overlap == 0 and r1[(1, 3)].f1 is None
    # single-token self-pair at n=1 is a perfect match
    assert r1[(4, 4)].f1 == 1.0

    r2 = {(r.ref_id, r.cand_id): r for r in rouge_n(docs, pairs, n=2).collect()}
    # bigrams ref1: the-cat, cat-sat, sat-on, on-the, the-mat (5)
    # cand2: the-cat, cat-lay, lay-on, on-the, the-mat -> overlap 3
    m2 = r2[(1, 2)]
    assert (m2.n_overlap, m2.n_ref, m2.n_cand) == (3, 5, 5)
    # doc 4 has no bigrams on either side -> pair absent at n=2
    assert (4, 4) not in r2


def test_rouge_scores_matches_per_level_rouge_n(spark):
    # rouge_scores (one multi-level kernel pass, r10 optimization) must
    # be row-for-row identical to unioning rouge_n per level -- same
    # schema, same per-level row presence, same exact values
    from uofi_payroll_etl_main_spark.llm.text import rouge_n, rouge_scores

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat lay on the mat"),
            (3, "completely different words entirely"),
            (4, "x"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 4), (1, 5), (9, 1)], "ref_id long, cand_id long"
    )
    multi = rouge_scores(docs, pairs, ns=(1, 2))
    union = rouge_n(docs, pairs, n=1).unionByName(rouge_n(docs, pairs, n=2))
    assert multi.columns == union.columns
    key = lambda r: (r.ref_id, r.cand_id, r.n)  # noqa: E731
    got = {key(r): r for r in multi.collect()}
    want = {key(r): r for r in union.collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k].asDict() == w.asDict(), k


def test_js_divergence_hand_case(spark):
    import math

    from uofi_payroll_etl_main_spark.llm.text import js_divergence

    # identical distributions -> 0
    d = spark.createDataFrame([(1, "a b"), (2, "a b")], "doc_id long, text string")
    same = js_divergence(d.filter("doc_id = 1"), d.filter("doc_id = 2")).first()
    assert same.jsd_nats == 0.0

    # disjoint vocabularies -> ln 2 nats == 1 bit
    da = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    db = spark.createDataFrame([(2, "c d d")], "doc_id long, text string")
    dj = js_divergence(da, db).first()
    assert abs(dj.jsd_nats - round(math.log(2), 6)) < 1e-6
    assert abs(dj.jsd_bits - 1.0) < 1e-6
    assert (dj.n_types, dj.n_tokens_a, dj.n_tokens_b) == (4, 3, 3)

    # hand-computed partial overlap: P = {a:2/3, b:1/3}, Q = {a:1/3, c:2/3}
    dc = spark.createDataFrame([(3, "a c c")], "doc_id long, text string")
    h = js_divergence(da, dc).first()
    p = {"a": 2 / 3, "b": 1 / 3}
    q = {"a": 1 / 3, "c": 2 / 3}
    toks = set(p) | set(q)
    jsd = sum(
        0.5 * p.get(t, 0) * math.log(2 * p[t] / (p[t] + q.get(t, 0)))
        for t in toks if t in p
    ) + sum(
        0.5 * q.get(t, 0) * math.log(2 * q[t] / (p.get(t, 0) + q[t]))
        for t in toks if t in q
    )
    assert abs(h.jsd_nats - round(jsd, 6)) < 1e-6


def test_bleu_score_hand_case(spark):
    import math

    from uofi_payroll_etl_main_spark.llm.text import bleu_score

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat today ok"),      # ref, 8 tokens
            (2, "the cat sat on the mat today no"),      # cand: 7/8 grams shared
            (3, "the cat"),                              # short cand: no 3/4-grams
            (4, "totally different words here indeed"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "ref_id long, cand_id long"
    )
    r = {(x.ref_id, x.cand_id): x for x in bleu_score(docs, pairs, max_n=4).collect()}

    m = r[(1, 2)]
    # p1 = 7/8, p2 = 6/7, p3 = 5/6, p4 = 4/5; equal lengths -> bp = 1
    p = [7 / 8, 6 / 7, 5 / 6, 4 / 5]
    expect = math.exp(sum(math.log(x) for x in p) / 4)
    assert (m.ref_len, m.cand_len, m.bp) == (8, 8, 1.0)
    assert abs(m.p1 - round(p[0], 6)) < 1e-9
    assert abs(m.bleu - round(expect, 6)) < 1e-6

    # short candidate: 3/4-gram precisions are 0 -> classic BLEU = 0,
    # and the brevity penalty reflects the 2-vs-8 length gap
    s = r[(1, 3)]
    assert s.bleu == 0.0 and s.p1 == 1.0
    assert abs(s.bp - round(math.exp(1 - 8 / 2), 6)) < 1e-9

    # disjoint text: all precisions 0 -> 0
    assert r[(1, 4)].bleu == 0.0


def test_value_running_totals_rank_nan_greatest(spark):
    """ADVICE r9: width_bucket(NaN) used to yield a NULL bucket that
    sorted FIRST, ranking NaN lowest -- but Spark's ORDER BY (and the
    DuckDB oracles) rank NaN greater than every real.  NaN now lands in
    the explicit past-the-end bucket, and -- crucially -- no longer
    poisons the (min, max) broadcast (F.max over a NaN-containing
    column returns NaN, which would NULL every bucket)."""
    import math

    from uofi_payroll_etl_main_spark.aggregates import _value_running_totals

    per_val = spark.createDataFrame(
        [(3.0, 2), (math.nan, 5), (1.0, 1), (7.0, 4)], "v double, t long"
    )
    run = {
        (None if math.isnan(r["v"]) else r["v"]): r["__run_t"]
        for r in _value_running_totals(per_val, "v", ["t"]).collect()
    }
    # ascending-order inclusive totals with NaN LAST
    assert run == {1.0: 1, 3.0: 3, 7.0: 7, None: 12}


def test_mann_whitney_nan_ranks_as_greatest_value(spark):
    """NaN observations rank as the greatest value -- the result must be
    IDENTICAL to replacing NaN with a finite value larger than every
    other observation (same rank algebra, same tie group)."""
    import math

    from uofi_payroll_etl_main_spark.aggregates import mann_whitney_u

    rows = [("a", 1.0), ("a", math.nan), ("b", 2.0), ("b", 3.0),
            ("a", 4.0), ("b", math.nan), ("a", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    sub = [
        (g, 1e18 if math.isnan(v) else v) for g, v in rows
    ]
    df_sub = spark.createDataFrame(sub, "g string, v double")
    r = mann_whitney_u(df, "g", "v", "a", "b").first()
    r2 = mann_whitney_u(df_sub, "g", "v", "a", "b").first()
    assert r.u_stat == r2.u_stat and abs(r.z - r2.z) < 1e-12


def test_chrf_score_hand_case(spark):
    """chrF2 against a tiny pure-Python replica: char grams (spaces
    removed), clipped counts, mean P/R over n=1..max_n, beta=2 F."""
    from collections import Counter

    from uofi_payroll_etl_main_spark.llm.text import chrf_score

    docs = spark.createDataFrame(
        [
            (1, "the cat  SAT"),   # normalized chars: 'thecatsat' (9)
            (2, "the cats sat"),   # 'thecatssat' (10)
            (3, "xyz"),
            (4, ""),               # empty candidate
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "ref_id long, cand_id long"
    )
    got = {
        (r["ref_id"], r["cand_id"]): (
            r["ref_chars"], r["cand_chars"], r["chrp"], r["chrr"], r["chrf"]
        )
        for r in chrf_score(docs, pairs, max_n=3).collect()
    }

    def replica(ref, cand, max_n=3, beta=2.0):
        ref = "".join(ref.lower().split())
        cand = "".join(cand.lower().split())
        ps, rs = [], []
        for n in range(1, max_n + 1):
            gr = Counter(ref[i:i+n] for i in range(len(ref) - n + 1))
            gc = Counter(cand[i:i+n] for i in range(len(cand) - n + 1))
            ov = sum(min(c, gc[g]) for g, c in gr.items())
            tr, tc = sum(gr.values()), sum(gc.values())
            ps.append(ov / tc if tc else 0.0)
            rs.append(ov / tr if tr else 0.0)
        p, r = sum(ps) / max_n, sum(rs) / max_n
        f = (1 + beta**2) * p * r / (beta**2 * p + r) if p + r > 0 else 0.0
        return (len(ref), len(cand), round(p, 6), round(r, 6), round(f, 6))

    assert got[(1, 2)] == replica("the cat  SAT", "the cats sat")
    assert got[(1, 3)] == replica("the cat  SAT", "xyz")
    # empty candidate: present (ref side has chars), all-zero scores
    assert got[(1, 4)] == (9, 0, 0.0, 0.0, 0.0)
    # identical text -> perfect score
    same = spark.createDataFrame([(7, "a bc d"), (8, "abc d")],
                                 "doc_id long, text string")
    sp = spark.createDataFrame([(7, 8)], "ref_id long, cand_id long")
    r = chrf_score(same, sp, max_n=2).first()
    assert (r["chrp"], r["chrr"], r["chrf"]) == (1.0, 1.0, 1.0)


def test_bleu_corpus_hand_case(spark):
    """Corpus BLEU sums clipped counts over pairs BEFORE the finish --
    differs from averaging sentence BLEU (one pair with a zero 2-gram
    precision does NOT zero the corpus score)."""
    import math

    from uofi_payroll_etl_main_spark.llm.text import bleu_corpus

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c d"),     # perfect pair (1,2)
            (3, "x y"),
            (4, "y x"),         # pair (3,4): 1-grams match, no 2-gram
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "ref_id long, cand_id long"
    )
    r = bleu_corpus(docs, pairs, max_n=2).first()
    # totals: 1-grams ov 4+2=6 of 6; 2-grams ov 3+0=3 of 4
    assert (r["n_pairs"], r["ref_tokens"], r["cand_tokens"]) == (2, 6, 6)
    assert (r["p1"], r["p2"]) == (1.0, 0.75)
    want = 1.0 * math.exp((math.log(1.0) + math.log(0.75)) / 2.0)
    assert abs(r["bleu"] - round(want, 6)) < 1e-9
    # sentence BLEU on pair (3,4) would be 0; the corpus form is not
    assert r["bleu"] > 0


def test_rouge_l_hand_case(spark):
    """ROUGE-L against hand-computed LCS values, including the classic
    non-contiguous match, a disjoint pair, and empty sides."""
    from uofi_payroll_etl_main_spark.llm.text import rouge_l

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat lay down on a mat"),  # LCS: the cat on mat = 4
            (3, "x y z"),
            (4, ""),
            (5, "police killed the gunman"),
            (6, "the gunman police killed"),   # LCS: police killed|the gunman = 2
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (5, 6)], "ref_id long, cand_id long"
    )
    got = {
        (r["ref_id"], r["cand_id"]): r for r in rouge_l(docs, pairs).collect()
    }
    m = got[(1, 2)]
    assert (m["lcs"], m["ref_len"], m["cand_len"]) == (4, 6, 7)
    assert m["recall"] == round(4 / 6, 6) and m["precision"] == round(4 / 7, 6)
    p, r_ = 4 / 7, 4 / 6
    assert m["f1"] == round(2 * p * r_ / (p + r_), 6)
    assert got[(1, 3)]["lcs"] == 0 and got[(1, 3)]["f1"] == 0.0
    # empty candidate: precision/f1 undefined -> null, recall 0
    e = got[(1, 4)]
    assert (e["lcs"], e["cand_len"], e["precision"], e["f1"]) == (0, 0, None, None)
    assert e["recall"] == 0.0
    # word order matters to LCS even when the bag of words is identical
    assert got[(5, 6)]["lcs"] == 2


def test_gram_kernel_keeps_pairs_with_missing_doc_side(spark):
    """A pair whose ref or cand id is absent from docs keeps its row
    with that side zeroed (the old full-outer spine's semantics) --
    the r10 inner-join restructure must not silently drop it or
    corpus totals change."""
    from uofi_payroll_etl_main_spark.llm.text import bleu_corpus, rouge_n

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (999, 1), (2, 888)], "ref_id long, cand_id long"
    )
    r1 = {(r["ref_id"], r["cand_id"]): r for r in rouge_n(docs, pairs, n=1).collect()}
    assert set(r1) == {(1, 2), (999, 1), (2, 888)}
    m = r1[(999, 1)]
    assert (m["n_overlap"], m["n_ref"], m["n_cand"]) == (0, 0, 3)
    assert m["recall"] is None and m["precision"] == 0.0
    m2 = r1[(2, 888)]
    assert (m2["n_overlap"], m2["n_ref"], m2["n_cand"]) == (0, 3, 0)
    # corpus totals count the present sides of half-missing pairs
    c = bleu_corpus(docs, pairs, max_n=1).first()
    assert (c["n_pairs"], c["ref_tokens"], c["cand_tokens"]) == (3, 6, 6)


def test_rouge_l_preserves_string_id_types(spark):
    """rouge_l must work with non-integer id columns like its siblings
    (the mapInPandas schema derives from the caller's types)."""
    from uofi_payroll_etl_main_spark.llm.text import rouge_l

    docs = spark.createDataFrame(
        [("u-1", "a b c"), ("u-2", "a x c")], "doc_id string, text string"
    )
    pairs = spark.createDataFrame(
        [("u-1", "u-2")], "ref_id string, cand_id string"
    )
    r = rouge_l(docs, pairs).first()
    assert (r["ref_id"], r["cand_id"], r["lcs"]) == ("u-1", "u-2", 2)
