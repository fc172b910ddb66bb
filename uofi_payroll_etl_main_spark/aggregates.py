"""Aggregates (SURVEY.md section 2.4, A1-A3).

A1 (group-by mode with lexicographic-min tie-break) is the reference's
most semantics-laden aggregate (`mode_map` :215-217, applied :290,
:517-521): pandas `mode()` sorts candidates, `.iat[0]` takes the
smallest.  Spark's F.mode() is tie-NONdeterministic, so we compute the
mode as groupBy(key, value).count() + row_number over
(count desc, value asc) -- fully deterministic and shuffle-optimal
(two map-side-combinable aggregations on the same key; AQE coalesces
the tiny reduce side).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "mode_agg",
    "min_max",
    "group_stats",
    "group_corr",
    "group_ols",
    "sketch_overlap_distinct",
    "kmv_set_ops",
    "kmv_hash_sql",
    "histogram",
    "sketch_merge_distinct",
    "sketch_merge_distinct_native",
    "hll_distinct",
    "hll_md5_registers",
    "hll_md5_estimate",
    "hll_reg_sql",
    "hll_rho_sql",
    "hll_est_sql",
    "cms_cell_sql",
    "cms_build",
    "cms_merge",
    "cms_estimate",
    "cms_join_size",
    "mann_whitney_u",
    "kruskal_wallis",
    "brown_forsythe",
    "welch_ttest",
    "frequent_itemsets",
    "association_rules",
    "winsorize",
    "robust_zscore",
    "group_spearman",
    "quantile_sketch_merge",
    "bootstrap_ci",
    "weighted_median",
    "skew_agg",
    "heavy_hitters",
    "ks_test",
]


def mode_agg(
    df: DataFrame,
    key: str,
    value: str,
    out_col: str | None = None,
    dropna: bool = True,
) -> DataFrame:
    """A1 -- one row per `key`: the most frequent `value`, ties broken by
    lexicographically smallest value (ref :215-217).

    dropna mirrors pandas groupby's default NaN handling on the value
    side (ref :285 dropna before the groupby).
    """
    out_col = out_col or value
    base = df.select(F.col(key), F.col(value))
    if dropna:
        base = base.filter(F.col(value).isNotNull())
    counts = base.groupBy(key, value).agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy(key).orderBy(F.desc("__cnt"), F.asc(value))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(key), F.col(value).alias(out_col))
    )


def min_max(df: DataFrame, col: str) -> DataFrame:
    """A2 -- global min/max of a column (ref :440-441)."""
    return df.agg(F.min(col).alias(f"min_{col}"), F.max(col).alias(f"max_{col}"))


# --------------------------------------------------------------------------
# md5-register HLL: a HyperLogLog whose registers derive from md5 hex
# prefixes, so ANY engine that has md5() reproduces the sketch -- and the
# estimate -- bit-for-bit.  That turns every sketch gate from rows-only
# into a full DuckDB value oracle (the a48 Poisson-weight / s24 Hilbert
# precedent).  Design: p=12 -> m=4096 registers addressed by the first 3
# hex chars; rho comes from the next 13 hex chars (52 independent bits).
# The harmonic sum uses exact DECIMAL arithmetic (every 2^(56-rho) term is
# an integer), finished by ONE double division -- addition-order-free, so
# shuffle order can't drift the estimate (the group_stats discipline).
# Standard error ~1.04/sqrt(4096) = 1.6%.  Flajolet et al. 2007 formulas:
# raw = alpha_m * m^2 / sum(2^-M_j); linear counting below 2.5m.
# --------------------------------------------------------------------------

HLL_M = 4096
# alpha_m * m^2 * 2^56 as ONE literal so both engines parse the same double
_HLL_NUM = repr(0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * 2.0**56)
_TWO56 = "72057594037927936"  # 2^56


def hll_reg_sql(key_sql: str) -> str:
    """Register index: first 3 hex chars of md5(key) -- 4096 registers."""
    return f"substring(md5({key_sql}), 1, 3)"


def hll_rho_sql(key_sql: str) -> str:
    """rho = 1 + leading-zero-bits of the 52-bit tail (hex chars 4-16):
    4 bits per leading '0' char, plus 0-3 from the first non-zero hex
    digit ('1'->3, '2'-'3'->2, '4'-'7'->1, '8'-'f'->0); all-zero tail
    -> 53.  Plain ANSI string ops -- runs verbatim on Spark and DuckDB."""
    stripped = f"trim(LEADING '0' FROM substring(md5({key_sql}), 4, 13))"
    return (
        f"(4 * (13 - length({stripped})) + CASE substring({stripped}, 1, 1) "
        "WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 "
        "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1 "
        "ELSE 0 END + 1)"
    )


def hll_est_sql(m_col: str = "__mj") -> str:
    """Estimate as an AGGREGATE expression over one group's register rows
    (each row one present register, `m_col` = max rho).  Absent registers
    contribute 2^56 each to the exact-decimal harmonic sum; linear
    counting (m*ln(m/V)) applies below 2.5m when zero registers remain."""
    s = (
        f"(sum(CAST(power(2.0, 56 - {m_col}) AS DECIMAL(38,0))) "
        f"+ CAST({HLL_M} - count(*) AS DECIMAL(18,0)) "
        f"* CAST({_TWO56} AS DECIMAL(20,0)))"
    )
    raw = f"({_HLL_NUM} / CAST({s} AS DOUBLE))"
    return (
        f"CAST(round(CASE WHEN {raw} <= {2.5 * HLL_M} AND count(*) < {HLL_M} "
        f"THEN {float(HLL_M)} * ln({float(HLL_M)} / ({HLL_M} - count(*))) "
        f"ELSE {raw} END) AS BIGINT)"
    )


def hll_md5_registers(
    df: DataFrame, group_cols: Sequence[str], key_col: str
) -> DataFrame:
    """Stage 1: the register table -- one row per (group, register) with
    the max rho.  groupBy gets map-side partial max, so the shuffle
    carries at most |groups| x 4096 rows no matter the input size; this
    table IS the mergeable sketch (union = max per register)."""
    k = f"CAST(`{key_col}` AS STRING)"
    return (
        df.selectExpr(
            *[f"`{g}`" for g in group_cols],
            f"{hll_reg_sql(k)} AS __reg",
            f"{hll_rho_sql(k)} AS __rho",
        )
        .groupBy(*group_cols, "__reg")
        .agg(F.max("__rho").alias("__mj"))
    )


def hll_md5_estimate(
    regs: DataFrame, group_cols: Sequence[str], out_col: str = "distinct_est"
) -> DataFrame:
    """Stage 2: fold one group's register rows to the estimate."""
    return regs.groupBy(*group_cols).agg(F.expr(hll_est_sql()).alias(out_col))


def hll_distinct(df: DataFrame, key: str, col: str) -> DataFrame:
    """Approximate distinct count per key via the md5-register HLL.

    The sketch is fixed-size per group regardless of cardinality -- the
    100 TB substitute for countDistinct, whose exact form shuffles every
    distinct value.  Error ~1.6% (m=4096); deterministic across engines,
    so the gate value-checks the estimates against DuckDB."""
    regs = hll_md5_registers(df, [key], col)
    return hll_md5_estimate(regs, [key], f"approx_distinct_{col}")


def sketch_merge_distinct_native(
    df: DataFrame, part_col: str, group_col: str, key_col: str
) -> DataFrame:
    """Engine-native twin of sketch_merge_distinct: Spark's Datasketches
    HLL (hll_sketch_agg / hll_union_agg).  Same semantics, different
    trade: the native sketch is ONE ~1.5 KB binary row per (group,
    slice) where the md5-register table is up to 4096 rows -- at very
    high group cardinality the native merge shuffle is ~10x smaller, so
    prefer THIS tier in production and the md5 tier where cross-engine
    verifiability matters (its estimates are oracle-checked; these are
    engine-specific).  Tolerance vs the md5 tier pinned in pytest."""
    per_slice = df.groupBy(group_col, part_col).agg(
        F.hll_sketch_agg(key_col).alias("__sk")
    )
    return per_slice.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_slices"),
        F.hll_sketch_estimate(F.hll_union_agg("__sk"))
        .cast("long")
        .alias("distinct_est"),
    )


def approx_quantiles(
    df: DataFrame, key: str, col: str, probs: Sequence[float] = (0.5, 0.95, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """Approximate quantiles per key (Greenwald-Khanna style sketch via
    percentile_approx).  Mergeable partial sketches -> one shuffle of
    sketch state, never of raw values."""
    return df.groupBy(key).agg(
        *[
            F.percentile_approx(col, p, accuracy).alias(f"p{int(p * 100)}_{col}")
            for p in probs
        ]
    )


def group_stats(df: DataFrame, key: str, col: str) -> DataFrame:
    """Exact descriptive statistics per group: n, mean, sample stddev,
    min, max -- the A/B-readout / feature-profiling aggregate.

    Mean and stddev derive from EXACT decimal power sums (sum, sum of
    squares) rather than F.avg/F.stddev over doubles: double summation
    is accumulation-order-dependent, so a shuffle-order change (or a
    different engine) would drift the last bits.  The exact sums are
    then cast to double and finished with IEEE arithmetic -- identical
    on any engine -- rather than decimal division, whose scale rules
    are engine-specific.  One map-side-combined shuffle, same cost as
    any groupBy.
    """
    v = F.col(col).cast("decimal(18,2)")
    agg = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("_s1"),
        F.sum(v * v).alias("_s2"),
        F.min(F.col(col).cast("double")).alias("min_v"),
        F.max(F.col(col).cast("double")).alias("max_v"),
    )
    n = F.col("n")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    # sample variance from power sums: (s2 - s1^2/n) / (n-1); n=1 -> null
    var = F.when(n > 1, (s2 - s1 * s1 / n) / (n - 1))
    return agg.select(
        key,
        "n",
        F.round(s1 / n, 6).alias("mean_v"),
        F.round(F.sqrt(var), 6).alias("stddev_v"),
        "min_v",
        "max_v",
    )


def group_corr(df: DataFrame, key: str, col_x: str, col_y: str) -> DataFrame:
    """Exact Pearson correlation per group from decimal power sums
    (sum x, sum y, sum xy, sum x^2, sum y^2), finished in IEEE double --
    same bit-stability rationale as group_stats; F.corr over doubles is
    accumulation-order-dependent.  One shuffle; null when either side
    is constant (zero variance) or n < 2.
    """
    x = F.col(col_x).cast("decimal(18,2)")
    y = F.col(col_y).cast("decimal(18,2)")
    agg = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    cov = sxy - sx * sy / n
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    corr = F.when((F.col("n") > 1) & (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return agg.select(key, "n", F.round(corr, 6).alias("corr_xy"))


def group_ols(df: DataFrame, key: str, col_x: str, col_y: str) -> DataFrame:
    """Exact simple-OLS trend per group -- slope, intercept, and R^2 of
    y ~ a + b*x from the same decimal power sums as group_corr (sum x,
    sum y, sum xy, sum x^2, sum y^2), finished in IEEE double.  The
    per-key trend detector: fit daily volume/value drift without a
    window sort.  ONE shuffle, map-side partial aggregation; at 100 TB
    the shuffle carries 6 numbers per group.  slope/intercept are null
    when n < 2 or x is constant; r2 additionally null when y is
    constant.
    """
    x = F.col(col_x).cast("decimal(18,2)")
    y = F.col(col_y).cast("decimal(18,2)")
    agg = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    cov = sxy - sx * sy / n
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    fit_ok = (F.col("n") > 1) & (vx > 0)
    slope = F.when(fit_ok, cov / vx)
    intercept = F.when(fit_ok, (sy - (cov / vx) * sx) / n)
    r2 = F.when(fit_ok & (vy > 0), (cov * cov) / (vx * vy))
    return agg.select(
        key,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def histogram(df: DataFrame, col: str, nbins: int = 20) -> DataFrame:
    """Equal-width histogram with gap-filled bins: two passes, both
    single aggregates.  Pass 1 reduces to one (min, max) row that
    broadcasts; pass 2 assigns each row its bin with pure arithmetic
    and reduces with map-side combine, so shuffle volume is `nbins`
    rows regardless of input size.  Empty bins are synthesized from a
    `sequence` explode of the 1-row stats frame (no driver loop).
    Values exactly at the upper edge clamp into the last bin.
    """
    stats = df.agg(
        F.min(F.col(col).cast("double")).alias("__lo"),
        F.max(F.col(col).cast("double")).alias("__hi"),
    )
    x = F.col(col).cast("double")
    bin_expr = (
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(((x - F.col("__lo")) * F.lit(nbins)) / (F.col("__hi") - F.col("__lo"))),
                F.lit(nbins - 1),
            )
        )
        .cast("long")
    )
    counts = (
        df.join(F.broadcast(stats))
        .groupBy(bin_expr.alias("bin"))
        .agg(F.count("*").alias("n"))
    )
    bins = stats.select(
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(nbins - 1).cast("long"))
        ).alias("bin"),
        "__lo",
        "__hi",
    )
    return (
        bins.join(counts, "bin", "left")
        .select(
            "bin",
            (F.col("__lo") + (F.col("bin") * (F.col("__hi") - F.col("__lo"))) / F.lit(nbins)).alias("lo_edge"),
            (F.col("__lo") + ((F.col("bin") + 1) * (F.col("__hi") - F.col("__lo"))) / F.lit(nbins)).alias("hi_edge"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )


def sketch_merge_distinct(
    df: DataFrame, part_col: str, group_col: str, key_col: str
) -> DataFrame:
    """Mergeable-sketch distinct count: build an md5-register HLL per
    (group, partition slice), then UNION the sketches per group
    (register-wise max) and estimate.  This is the 100 TB shape for
    incremental distincts -- daily register tables persist and merge
    into weekly/monthly rollups without ever rescanning history, which
    an exact count-distinct cannot do.  Estimate error ~1.6%; both
    aggregation stages get map-side partials and the merge stage moves
    only register rows (<= slices x 4096 per group).  Deterministic
    md5 registers -> the gate value-checks estimates against DuckDB."""
    per_slice = hll_md5_registers(df, [group_col, part_col], key_col)
    # union of sketches = register-wise MAX across slices, THEN estimate
    merged_regs = per_slice.groupBy(group_col, "__reg").agg(
        F.max("__mj").alias("__mj")
    )
    merged = hll_md5_estimate(merged_regs, [group_col], "distinct_est")
    n_slices = per_slice.groupBy(group_col).agg(
        F.count_distinct(part_col).cast("long").alias("n_slices")
    )
    return n_slices.join(merged, group_col).select(
        group_col, "n_slices", "distinct_est"
    )


def cms_cell_sql(item_sql: str, d: int, hex_chars: int) -> str:
    """Cell label of `item` in hash row `d`: the first `hex_chars` hex
    chars of md5('<d>:' || item) -- a uniform map onto 16^hex_chars
    cells that ANY md5-bearing engine reproduces verbatim (no integer
    modulo, so no hex->int conversion is ever needed)."""
    return f"substring(md5('{d}:' || {item_sql}), 1, {hex_chars})"


def _cms_positions(hex_chars: int, depth: int):
    """One (row, cell) struct per hash row; reads the string item from
    the caller-provided ``__cms_item`` column."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.expr(cms_cell_sql("__cms_item", d, hex_chars)).alias("w"),
            )
            for d in range(depth)
        ]
    )


def cms_build(
    df: DataFrame, col: str, hex_chars: int = 3, depth: int = 4
) -> DataFrame:
    """Count-min sketch of the frequency of `col` values, materialized
    as a sparse count table DataFrame (d, w, cnt) with at most
    depth*16^hex_chars rows (hex_chars=3 -> 4096-cell rows).

    The sketch is a pure groupBy-count over hashed cells, so it gets
    map-side partial aggregation and shuffles at most depth*width rows
    no matter how large the input -- and two sketches MERGE by adding
    cells (`cms_merge`), which is what a 100 TB pipeline needs for
    incremental / per-partition frequency state (daily sketches fold
    into monthly ones without rescanning history; an exact per-value
    count table grows with cardinality, this never does).

    Estimates (`cms_estimate`) are upper bounds: est >= true count
    always; est <= true + eps*N w.h.p. with eps = e/width.  Cells are
    md5-hex prefixes (cms_cell_sql), so sketches are deterministic and
    mergeable across runs AND engines -- the gate value-checks the
    estimates against a DuckDB replica of the same cells.
    """
    cells = df.select(F.col(col).cast("string").alias("__cms_item")).select(
        F.explode(_cms_positions(hex_chars, depth)).alias("__c")
    )
    return (
        cells.groupBy(F.col("__c.d").alias("d"), F.col("__c.w").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the same (width, depth):
    cell-wise sum.  Associative and commutative -- fold daily sketches
    into any rollup."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "w").agg(F.sum("cnt").cast("long").alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    items: DataFrame,
    col: str,
    hex_chars: int = 3,
    depth: int = 4,
    out_col: str = "est",
) -> DataFrame:
    """Point-query the sketch for every row of `items[col]`: estimate =
    min over the depth cells the item hashes to (absent cell = 0).

    The sketch is bounded (depth*width cells) so it broadcasts; the
    probe is a broadcast left join + groupBy-min -- items never
    shuffle against each other, only against their own depth cells.
    """
    probes = items.select(
        F.col(col), F.col(col).cast("string").alias("__cms_item")
    ).select(
        col, F.explode(_cms_positions(hex_chars, depth)).alias("__c")
    ).select(col, F.col("__c.d").alias("d"), F.col("__c.w").alias("w"))
    return (
        probes.join(F.broadcast(cms), ["d", "w"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias(out_col))
    )


def winsorize(
    df: DataFrame,
    key: str,
    col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization: clip `col` to its exact interpolated
    [p_lo, p_hi] group percentiles (percentile_cont semantics, matching
    DuckDB quantile_cont exactly).

    One per-group percentile aggregate (state bounded by group count)
    broadcast back onto the fact -- the fact itself never shuffles.
    The exact percentile costs a per-group sort in the aggregate; for
    a 100 TB hot path swap in approx_quantiles and accept the sketch
    tolerance.
    """
    out_col = out_col or f"{col}_wins"
    q = df.groupBy(key).agg(
        F.percentile(col, F.lit(p_lo)).alias("__qlo"),
        F.percentile(col, F.lit(p_hi)).alias("__qhi"),
    )
    return (
        df.join(F.broadcast(q), key)
        .withColumn(out_col, F.least(F.greatest(F.col(col), F.col("__qlo")), F.col("__qhi")))
        .drop("__qlo", "__qhi")
    )


def robust_zscore(
    df: DataFrame,
    key: str,
    col: str,
    out_col: str = "robust_z",
    scale: float = 1.4826,
) -> DataFrame:
    """Median/MAD z-score per group: (x - median) / (scale * MAD) with
    MAD = median(|x - median|) -- the outlier-robust standardization
    (mean/stddev moments are themselves dragged by the outliers they
    are supposed to flag; the median/MAD pair is not).

    Two bounded per-group aggregates (median, then MAD over the
    residuals), each broadcast back; the fact is scanned twice and
    shuffled never.  Zero-MAD groups (over half the values identical)
    emit 0.0 rather than dividing by zero.
    """
    med = df.groupBy(key).agg(F.percentile(col, F.lit(0.5)).alias("__med"))
    j = df.join(F.broadcast(med), key)
    mad = j.groupBy(key).agg(
        F.percentile(F.abs(F.col(col) - F.col("__med")), F.lit(0.5)).alias("__mad")
    )
    return (
        j.join(F.broadcast(mad), key)
        .withColumn(
            out_col,
            F.when(
                F.col("__mad") > 0,
                (F.col(col) - F.col("__med")) / (F.lit(scale) * F.col("__mad")),
            ).otherwise(F.lit(0.0)),
        )
        .drop("__med", "__mad")
    )


KMV_M = 1000000007  # Knuth-hash modulus (query_hash_slice recipe)


def kmv_hash_sql(key_sql: str) -> str:
    """Engine-portable uniform integer hash in [0, KMV_M): the Knuth
    multiplicative recipe shared with a16_group_sample /
    query_hash_slice -- plain integer arithmetic, identical in any
    engine, and its ORDER is what KMV sketches sample."""
    return (
        f"pmod(pmod(CAST({key_sql} AS BIGINT), 2147483648) * 2654435761 "
        f"+ 12345, {KMV_M})"
    )


def kmv_set_ops(
    df: DataFrame, set_col: str, key_col: str, k: int = 64
) -> DataFrame:
    """KMV (bottom-k) sketch SET ALGEBRA per unordered set pair:
    distinct union / intersection / BOTH difference estimates --
    the capability HLL inclusion-exclusion cannot offer (sketch
    differences), from sketches of k integers per set.

    Estimator (Bar-Yossef et al. 2002 / Beyer et al. 2007): a set's
    k-th smallest hash h_k gives est = (k-1) * M / h_k; for a pair,
    the k smallest hashes of the sketch UNION estimate the union, and
    the fraction m/kk of those union samples present in BOTH sketches
    scales it to the intersection; differences follow by subtraction
    (clamped at 0).  Sets with fewer than k distinct hashes are in
    EXACT mode (the sketch IS the set).

    Scale shape: the fact table reduces ONCE to |sets| x k integer
    rows (two map-side-combined aggregations); every later join is
    sketch-vs-sketch, segment-scale.  Integer hashes + one double
    division per estimate -> deterministic in any engine; the gate
    VALUE-checks all four estimates against DuckDB.

    Output: (set_a, set_b, est_a, est_b, union_est, intersect_est,
    diff_ab_est, diff_ba_est), estimates rounded 4.
    """
    h = F.expr(kmv_hash_sql(f"`{key_col}`"))
    hashes = (
        df.select(F.col(set_col).alias("set_name"), h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy("set_name").orderBy(F.asc("h"))
    ranked = hashes.withColumn("rn", F.row_number().over(w))
    # the sketch table feeds FIVE consumers (per-set estimates, both
    # union branches, both membership joins); checkpoint it so the fact
    # scan runs ONCE -- the sketch is |sets| x k integers, pennies
    sk = ranked.filter(F.col("rn") <= k).select("set_name", "h").localCheckpoint()
    per = sk.groupBy("set_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_sk"),
        F.max("h").alias("h_k"),
    )
    # n_sk < k <=> the whole set fit in the sketch: exact mode
    est = F.when(
        F.col("n_sk") < k, F.col("n_sk").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(KMV_M)) / F.col("h_k").cast("double")
    )
    ests = per.select("set_name", F.round(est, 4).alias("est"))

    a = ests.select(F.col("set_name").alias("set_a"), F.col("est").alias("est_a"))
    b = ests.select(F.col("set_name").alias("set_b"), F.col("est").alias("est_b"))
    pairs = a.join(F.broadcast(b), F.col("set_a") < F.col("set_b"))

    # union sketch per pair: k smallest distinct hashes of A's + B's samples
    pr = pairs.select("set_a", "set_b")
    both = (
        pr.join(sk, pr["set_a"] == sk["set_name"]).select("set_a", "set_b", "h")
        .unionByName(
            pr.join(sk, pr["set_b"] == sk["set_name"]).select("set_a", "set_b", "h")
        )
        .distinct()
    )
    wu = Window.partitionBy("set_a", "set_b").orderBy(F.asc("h"))
    usamp = both.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= k)
    # membership of each union sample in each side's sketch
    in_a = sk.select(F.col("set_name").alias("set_a"), "h").withColumn("__a", F.lit(1))
    in_b = sk.select(F.col("set_name").alias("set_b"), "h").withColumn("__b", F.lit(1))
    tagged = (
        usamp.join(in_a, ["set_a", "h"], "left")
        .join(in_b, ["set_b", "h"], "left")
    )
    upair = tagged.groupBy("set_a", "set_b").agg(
        F.count(F.lit(1)).cast("long").alias("kk"),
        F.max("h").alias("u_k"),
        F.sum(
            F.when(F.col("__a").isNotNull() & F.col("__b").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("m"),
    )
    union_est = F.round(
        F.when(F.col("kk") < k, F.col("kk").cast("double")).otherwise(
            F.lit(float(k - 1)) * F.lit(float(KMV_M)) / F.col("u_k").cast("double")
        ),
        4,
    )
    out = pairs.join(upair, ["set_a", "set_b"]).withColumn("union_est", union_est)
    inter = F.round(
        F.col("m").cast("double") * F.col("union_est") / F.col("kk").cast("double"),
        4,
    )
    out = out.withColumn("intersect_est", inter)
    return out.select(
        "set_a",
        "set_b",
        "est_a",
        "est_b",
        "union_est",
        "intersect_est",
        F.round(F.greatest(F.col("est_a") - F.col("intersect_est"), F.lit(0.0)), 4).alias("diff_ab_est"),
        F.round(F.greatest(F.col("est_b") - F.col("intersect_est"), F.lit(0.0)), 4).alias("diff_ba_est"),
    )


def group_spearman(
    df: DataFrame, key: str, col_x: str, col_y: str, out_col: str = "spearman_xy"
) -> DataFrame:
    """Exact Spearman rank correlation per group: Pearson over average
    ranks (ties get the mean of their rank range -- the standard
    mid-rank convention), finished with the same decimal power-sum
    machinery as group_corr for bit-stable results.

    Rank plumbing is shuffle-frugal: both the rank and the tie count
    ride ONE exchange per rank column (the tie count is a window count
    over the RANGE frame of peers, same partitioning as the rank), and
    mid-ranks in .5 steps stay exact in decimal(18,2).
    """
    from pyspark.sql import Window

    def avg_rank(c: str):
        w = Window.partitionBy(key).orderBy(F.col(c))
        peers = F.count(F.lit(1)).over(w.rangeBetween(0, 0))
        return F.rank().over(w).cast("double") + (peers.cast("double") - 1) / 2

    ranked = df.select(
        F.col(key), avg_rank(col_x).alias("__rx"), avg_rank(col_y).alias("__ry")
    )
    out = group_corr(ranked, key, "__rx", "__ry")
    return out.select(key, "n", F.col("corr_xy").alias(out_col))


def quantile_sketch_merge(
    df: DataFrame,
    group_col: str,
    part_col: str,
    value_col: str,
    qs: Sequence[float] = (0.5, 0.95),
    nbins: int = 256,
) -> DataFrame:
    """Mergeable quantile estimation (the quantile analog of
    sketch_merge_distinct): per (group, partition-slice) fixed-bin
    histogram sketches that MERGE BY ADDITION, folded to per-group
    quantile estimates with linear interpolation inside the hit bin.

    The 100 TB contract: per-day sketches (nbins longs each) persist
    and fold into weekly/monthly rollups without rescanning history --
    exact quantiles cannot do that, and percentile_approx's internal
    sketch is not exposed for external merging.  Error is bounded by
    one bin width, (max-min)/nbins over the GLOBAL value range
    (single-row broadcast, the a14 histogram pattern); pytest asserts
    the bound against exact percentiles.
    """
    bounds = df.agg(
        F.min(F.col(value_col).cast("double")).alias("__lo"),
        F.max(F.col(value_col).cast("double")).alias("__hi"),
    )
    v = F.col(value_col).cast("double")
    rel = F.when(
        F.col("__hi") > F.col("__lo"),
        (v - F.col("__lo")) / (F.col("__hi") - F.col("__lo")),
    ).otherwise(F.lit(0.0))
    bin_ = F.least(F.floor(rel * nbins), F.lit(nbins - 1)).cast("int")
    sketches = (
        df.join(F.broadcast(bounds))
        .select(F.col(group_col), F.col(part_col), bin_.alias("__bin"))
        .groupBy(group_col, part_col, "__bin")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # merge = cell-wise sum; then one bounded per-group pass (<= nbins
    # rows per group) builds the cumulative counts
    merged = sketches.groupBy(group_col, "__bin").agg(F.sum("__n").alias("__n"))
    w = Window.partitionBy(group_col).orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = merged.withColumn("__cum", F.sum("__n").over(w)).withColumn(
        "__tot", F.sum("__n").over(Window.partitionBy(group_col))
    )
    out = None
    for q in qs:
        target = F.lit(float(q)) * F.col("__tot")
        hit = (
            cum.filter(F.col("__cum") >= target)
            .withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy(group_col).orderBy("__bin")
                ),
            )
            .filter(F.col("__rk") == 1)
        )
        frac = F.when(
            F.col("__n") > 0,
            (target - (F.col("__cum") - F.col("__n"))) / F.col("__n"),
        ).otherwise(F.lit(0.0))
        est_rel = (F.col("__bin").cast("double") + frac) / F.lit(float(nbins))
        one = hit.join(F.broadcast(bounds)).select(
            F.col(group_col),
            F.lit(float(q)).alias("q"),
            # round 6: the arithmetic is pure IEEE double with a fixed op
            # order, identical on any engine; rounding absorbs nothing
            # today but keeps the value-oracle hash safe against future
            # libm drift in downstream transforms
            F.round(
                F.col("__lo") + est_rel * (F.col("__hi") - F.col("__lo")), 6
            ).alias("est"),
        )
        out = one if out is None else out.unionByName(one)
    return out


def weighted_median(
    df: DataFrame,
    keys: Sequence[str] | str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group weighted median: the smallest value v such that the
    cumulative weight of rows with value <= v reaches half the group's
    total weight (lower weighted median -- the robust center that, e.g.,
    order-size-weighted price analytics need; the plain median is the
    weight=1 special case).

    Shape: one shuffle on the group key, then ONE within-partition sort
    feeding two window passes (running sum + group total); the crossing
    rows collapse via groupBy min.  No collect, no percentile UDF.
    Right-sized when the group key has real cardinality (per-customer,
    per-part); for a LOW-cardinality key whose groups are corpus-scale,
    use the brown_forsythe median shape instead --
    _value_running_totals(partition_cols=[key]) buckets each group's
    value order so no task ever sorts a whole group.
    Cumulative weights are summed as DECIMAL(38,6): exact and
    order-independent, so equal-valued runs can shuffle internally
    without moving the crossing test -- cross-engine bit-stable
    (a double running sum would make `2*cum >= total` flip on float
    association at exact-boundary groups).

    Output: one row per group, (keys..., weighted_median).
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    wt = F.col(weight_col).cast("decimal(38,6)")
    part = Window.partitionBy(*key_list)
    run = (
        part.orderBy(F.asc(value_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(wt).over(run)
    tot = F.sum(wt).over(part)
    crossed = (
        df.filter(F.col(value_col).isNotNull() & F.col(weight_col).isNotNull())
        .withColumn("__cum", cum)
        .withColumn("__tot", tot)
        .filter(F.col("__cum") * 2 >= F.col("__tot"))
    )
    return crossed.groupBy(*key_list).agg(
        F.min(value_col).alias("weighted_median")
    )


def sketch_overlap_distinct(
    df: DataFrame, set_col: str, key_col: str
) -> DataFrame:
    """Pairwise audience overlap between sets via mergeable HLL
    sketches and inclusion-exclusion: for every unordered set pair,
    |A ∩ B| ≈ est(A) + est(B) - est(A ∪ B) and the Jaccard estimate
    inter/union -- "how many users do segments A and B share" without
    an exact distinct-pair join.

    The 100 TB shape: the fact table reduces ONCE to one sketch per
    set (map-side partial agg, sketch-bytes shuffle); the pair join
    runs over |sets|² sketch rows -- set cardinality is segment-scale
    (tens), never user-scale.  Exact pairwise overlap would shuffle
    the key column once per pair; this never rescans the facts.
    Estimates inherit HLL error (~1.6% per term, so small intersections
    of large sets are noisy -- the standard inclusion-exclusion
    caveat); intersection is clamped at 0.  md5-register sketches ->
    estimates are engine-deterministic and the gate value-checks them;
    tolerance vs exact intersections additionally pinned in pytest.
    """
    regs = df.select(F.col(set_col).alias("set_name"), F.col(key_col))
    regs = hll_md5_registers(regs, ["set_name"], key_col)
    ests = hll_md5_estimate(regs, ["set_name"], "est")
    a = ests.select(
        F.col("set_name").alias("set_a"), F.col("est").alias("est_a")
    )
    b = ests.select(
        F.col("set_name").alias("set_b"), F.col("est").alias("est_b")
    )
    pairs = a.join(F.broadcast(b), F.col("set_a") < F.col("set_b"))
    # union sketch per pair: register-wise max over both sets' register
    # tables -- two equi-joins of the (tiny) pair list against the
    # register table, never an OR-join (which would plan a nested loop)
    pr = pairs.select("set_a", "set_b")
    uni_regs = (
        pr.join(regs, pr["set_a"] == regs["set_name"])
        .select("set_a", "set_b", "__reg", "__mj")
        .unionByName(
            pr.join(regs, pr["set_b"] == regs["set_name"]).select(
                "set_a", "set_b", "__reg", "__mj"
            )
        )
        .groupBy("set_a", "set_b", "__reg")
        .agg(F.max("__mj").alias("__mj"))
    )
    uni = hll_md5_estimate(uni_regs, ["set_a", "set_b"], "union_est")
    inter = F.greatest(
        F.col("est_a") + F.col("est_b") - F.col("union_est"),
        F.lit(0).cast("long"),
    )
    return (
        pairs.join(uni, ["set_a", "set_b"])
        .select(
            "set_a",
            "set_b",
            "est_a",
            "est_b",
            "union_est",
            inter.alias("intersect_est"),
            F.round(
                F.when(
                    F.col("union_est") > 0,
                    inter.cast("double") / F.col("union_est").cast("double"),
                ),
                6,
            ).alias("jaccard_est"),
        )
    )


def cms_join_size(cms_a: DataFrame, cms_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two count-min sketches built
    with the same (width, depth) over each side's join key: |A ⋈ B| =
    Σ_k f_A(k)·f_B(k), estimated as the MIN over depth rows of the
    cell-wise inner product (the classic CM inner-product bound:
    overestimates by at most |A|·|B|·e/width w.h.p., never under).

    The "should I broadcast / salt / bucket this join" planning number
    WITHOUT running the join: both sketches are bounded (depth*width
    cells), so the estimate costs a cell-keyed join of two sketch
    tables -- at 100 TB the facts were already reduced to sketches by
    cms_build's one scan each, and daily sketches fold via cms_merge,
    so the estimate also works incrementally.  Returns one row
    (join_size_est long).
    """
    prod = (
        cms_a.withColumnRenamed("cnt", "__ca")
        .join(cms_b.withColumnRenamed("cnt", "__cb"), ["d", "w"])
        .groupBy("d")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__dot"))
    )
    return prod.agg(F.min("__dot").cast("long").alias("join_size_est"))


def _value_running_totals(
    per_val: DataFrame,
    order_col: str,
    sum_cols: Sequence[str],
    buckets: int = 64,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Inclusive running totals of `sum_cols` in `order_col` order over a
    one-row-per-distinct-value frame, WITHOUT a single-partition window.

    The rank-by-composition pattern (same shape as the sorted-
    neighborhood rank in llm/dedup.py): a (min, max) scalar broadcast
    turns each value into an order-preserving width_bucket id, the
    per-bucket totals (a <= `buckets`-row side frame) fold into
    exclusive cumulative offsets, and running total = bucket offset +
    a bucket-PARTITIONED within-window.  Every window here is either
    metadata-scale (the offsets frame) or partitioned (the within-
    bucket sums), so no corpus-scale sort ever lands on one executor.

    width_bucket is a pure function of the value, so equal values share
    a bucket and the result is independent of the bucketing -- fully
    deterministic, no sampled-boundary nondeterminism to checkpoint
    away.  A pathological distribution that collapses into one bucket
    degrades to the single-partition sort this replaces, never worse;
    at 100 TB raise `buckets` so each bucket stays executor-sized.

    With `partition_cols`, running totals restart per partition (e.g.
    per group for group-wise medians): bounds come from a per-partition
    (min, max) broadcast, and the within-partition value ordering gets
    the same bucket treatment -- the group-count-independent fix for
    the "partitioned window whose partitions ARE corpus-scale" shape a
    low-cardinality group key creates.

    Adds `__run_<c>` (long) for each c in sum_cols; the caller gets the
    exclusive form by subtracting the row's own contribution.
    """
    pcols = list(partition_cols)
    # NaN discipline: Spark's F.max treats NaN as greater than any value,
    # so one NaN would poison __hi (width_bucket with a NaN bound returns
    # NULL for EVERY row).  Bounds therefore come from the non-NaN values
    # only, and NaN rows get the explicit past-the-end bucket buckets+1 --
    # matching how both Spark's ORDER BY and the DuckDB oracles rank NaN
    # (greater than all reals), instead of the null bucket sorting FIRST.
    ordd = F.col(order_col).cast("double")
    finite = F.when(~F.isnan(ordd), ordd)
    if pcols:
        stats = per_val.groupBy(*pcols).agg(
            F.min(finite).alias("__lo"),
            F.max(finite).alias("__hi"),
        )
        joined = per_val.join(F.broadcast(stats), pcols)
    else:
        stats = per_val.agg(
            F.min(finite).alias("__lo"),
            F.max(finite).alias("__hi"),
        )
        joined = per_val.crossJoin(F.broadcast(stats))
    b = (
        joined
        .withColumn(
            "__bkt",
            F.when(F.isnan(ordd), F.lit(int(buckets) + 1))
            .when(F.col("__hi") <= F.col("__lo"), F.lit(1))
            .otherwise(
                F.least(
                    F.lit(int(buckets)),
                    F.width_bucket(
                        ordd,
                        F.col("__lo"),
                        F.col("__hi"),
                        F.lit(int(buckets)),
                    ),
                )
            )
            .cast("int"),
        )
        .drop("__lo", "__hi")
    )
    totals = b.groupBy(*pcols, "__bkt").agg(
        *[F.sum(c).cast("long").alias(f"__t_{c}") for c in sum_cols]
    )
    w_off = (
        Window.partitionBy(*pcols).orderBy("__bkt")
        if pcols
        else Window.orderBy("__bkt")
    ).rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        *pcols,
        "__bkt",
        *[
            F.coalesce(F.sum(f"__t_{c}").over(w_off), F.lit(0))
            .cast("long")
            .alias(f"__off_{c}")
            for c in sum_cols
        ],
    )
    w_in = Window.partitionBy(*pcols, "__bkt").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = b.join(F.broadcast(offs), [*pcols, "__bkt"])
    for c in sum_cols:
        out = out.withColumn(
            f"__run_{c}",
            (F.col(f"__off_{c}") + F.sum(c).over(w_in)).cast("long"),
        )
    return out.drop("__bkt", *[f"__off_{c}" for c in sum_cols])


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two groups --
    the nonparametric A/B readout when values are skewed/ordinal and a
    t-test's normality assumption is wrong.  Mid-ranks for ties, the
    tie-corrected normal approximation for z, and the rank-biserial
    effect size r = 1 - 2U/(n_a*n_b) (sign: positive means group_a
    stochastically larger).

    Rank mechanics without a global sort: the frame first reduces to
    one row per DISTINCT value (map-side-combined counts of ties t and
    group-a members ca), then _value_running_totals gives below(v) =
    #values < v via range-bucketed cumulative offsets -- no
    unpartitioned corpus-scale window anywhere in the plan.  Mid-rank
    algebra stays exact: minrank = below+1, doubled mid-rank
    2*minrank + t - 1 = 2*below + t + 1 is pure integer, summed as
    DECIMAL(38,0), so the rank sum is order-independent; z finishes in
    IEEE double from exact integer/decimal inputs.  The tie-correction
    term folds in the same single pass over the distinct-value frame.
    Returns ONE row: n_a, n_b, u_stat (U of group_a), z, r_rb.
    """
    two = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(group_col).alias("__g"), F.col(value_col).cast("double").alias("__v")
    ).filter(F.col("__v").isNotNull())
    # materialize the distinct-value frame once: the bounds probe, the
    # bucket totals, and the ranked consumer below would otherwise each
    # re-run the corpus scan + aggregation (3 scans -> 1); the
    # checkpoint holds one row per distinct value
    per_val = (
        two.groupBy("__v")
        .agg(
            F.sum(F.when(F.col("__g") == group_a, 1).otherwise(0))
            .cast("long")
            .alias("__ca"),
            F.count(F.lit(1)).cast("long").alias("__t"),
        )
        .localCheckpoint(eager=True)
    )
    run = _value_running_totals(per_val, "__v", ["__t"])
    below = F.col("__run___t") - F.col("__t")
    # doubled mid-rank = 2*below + t + 1; ca * mid2 summed as pure
    # integer DECIMAL(38,0) -- decimal-division scale rules differ per
    # engine, integers don't
    mid2 = (
        F.lit(2) * below.cast("decimal(38,0)")
        + F.col("__t").cast("decimal(38,0)")
        + F.lit(1)
    )
    j = run.agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum(F.col("__t") - F.col("__ca")).cast("long").alias("n_b"),
        F.sum(F.col("__ca").cast("decimal(38,0)") * mid2).alias("__ra2"),
        F.sum(
            F.col("__t").cast("decimal(38,0)") * F.col("__t") * F.col("__t")
            - F.col("__t")
        ).alias("__tcorr"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u_a = F.col("__ra2").cast("double") / 2.0 - na * (na + 1.0) / 2.0
    mu = na * nb / 2.0
    sigma2 = (na * nb / 12.0) * (
        (n + 1.0) - F.col("__tcorr").cast("double") / (n * (n - 1.0))
    )
    z = F.when(sigma2 > 0, (u_a - mu) / F.sqrt(sigma2))
    r_rb = F.lit(1.0) - F.lit(2.0) * (na * nb - u_a) / (na * nb)
    return j.select(
        "n_a",
        "n_b",
        F.round(u_a, 6).alias("u_stat"),
        F.round(z, 6).alias("z"),
        F.round(r_rb, 6).alias("r_rb"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal-Wallis H test across ALL groups of `group_col` -- the
    k-group extension of Mann-Whitney (a45): does at least one group's
    value distribution sit apart?  Mid-ranks for ties,
    H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1), and the tie-corrected
    H_c = H / (1 - sum(t^3-t)/(N^3-N)); H_c ~ chi^2(k-1) under H0.

    Same rank mechanics as mann_whitney_u, same scale shape: the frame
    reduces to one row per (group, value) then per value (map-side
    combined), _value_running_totals supplies below(v) without any
    corpus-scale single-partition window, and doubled mid-ranks
    (2*below + t + 1) keep every rank sum pure-integer DECIMAL(38,0).
    Per-group terms R_g^2/n_g finish in IEEE double and quantize to
    DECIMAL(38,3) BEFORE the cross-group sum, so the k-row addition is
    order-free and engine-identical.  NULL groups and NULL values are
    excluded (ranks are defined over observed measurements only).
    Returns ONE row: n_groups, n_total, h, h_corrected (rounded 6).
    """
    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"), F.col(value_col).cast("double").alias("__v")
    )
    # materialize ONCE: the (group, value) count frame feeds the rank
    # machinery, the per-group rank sums, AND the tie correction --
    # without this the corpus scan re-runs per consumer (audited: 9
    # parquet scans -> 1, the lineage shape the plan lint exists for).
    # The checkpoint holds one row per distinct (group, value) pair --
    # far smaller than the corpus it summarizes.
    per_gv = (
        base.groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=True)
    )
    per_val = per_gv.groupBy("__v").agg(F.sum("__c").cast("long").alias("__t"))
    run = _value_running_totals(per_val, "__v", ["__t"])
    below = F.col("__run___t") - F.col("__t")
    vals = run.select(
        "__v",
        (
            F.lit(2) * below.cast("decimal(38,0)")
            + F.col("__t").cast("decimal(38,0)")
            + F.lit(1)
        ).alias("__mid2"),
    )
    groups = (
        per_gv.join(vals, "__v")
        .groupBy("__g")
        .agg(
            F.sum("__c").cast("long").alias("__n"),
            F.sum(F.col("__c").cast("decimal(38,0)") * F.col("__mid2")).alias(
                "__r2"
            ),
        )
    )
    r2d = F.col("__r2").cast("double") / 2.0
    term = F.round(r2d * r2d / F.col("__n").cast("double"), 3).cast(
        "decimal(38,3)"
    )
    agg = groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("__n").cast("long").alias("n_total"),
        F.sum(term).alias("__s"),
    )
    # tie correction depends only on per-value tie counts -- fold it
    # straight off the checkpointed frame instead of re-running the
    # whole rank pipeline as a second consumer
    ties = per_gv.groupBy("__v").agg(
        F.sum("__c").cast("long").alias("__t")
    ).agg(
        F.sum(
            F.col("__t").cast("decimal(38,0)") * F.col("__t") * F.col("__t")
            - F.col("__t")
        ).alias("__tcorr")
    )
    j = agg.crossJoin(F.broadcast(ties))
    n = F.col("n_total").cast("double")
    h = F.lit(12.0) / (n * (n + 1.0)) * F.col("__s").cast("double") - F.lit(
        3.0
    ) * (n + 1.0)
    c = F.lit(1.0) - F.col("__tcorr").cast("double") / (n * n * n - n)
    return j.select(
        "n_groups",
        "n_total",
        F.round(h, 6).alias("h"),
        F.round(F.when(c > 0, h / c), 6).alias("h_corrected"),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown-Forsythe equality-of-SPREADS test (Levene's test with the
    group MEDIAN center): F-ANOVA over the absolute deviations
    z_ij = |x_ij - median_g| -- the robust "did variance drift between
    cohorts" readout that completes the nonparametric battery (a45/a53
    location, a52 shape, THIS spread).

    Scale + exactness shape: the frame reduces once to (group, value)
    counts (checkpointed -- the rank machinery, the medians, and every
    z-sum all read it); per-group EXACT medians come from
    _value_running_totals with partition_cols=[group] -- per-group
    range buckets, so the "partitioned window whose partitions are
    corpus-scale" trap of a low-cardinality group key never appears --
    via the (n+1)//2, (n+2)//2 order statistics (even groups average
    the two middles).  Deviations quantize to DECIMAL(18,6) BEFORE
    weighting by the tie counts, so every z-sum and z^2-sum is exact
    and order-free; the k-row between/within terms quantize to
    DECIMAL(38,6) before their sums; the F statistic finishes in IEEE
    double from those exact inputs.  NULL groups/values excluded.
    Returns ONE row: n_groups, n_total, between_ss, within_ss, f_bf
    (rounded 6; f_bf null when k < 2 or within_ss == 0).
    """
    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"), F.col(value_col).cast("double").alias("__v")
    )
    # one row per (group, value): median ranks, z-sums, and totals all
    # derive from this frame -- materialize it once (corpus scanned 1x)
    per_gv = (
        base.groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=True)
    )
    run = _value_running_totals(per_gv, "__v", ["__c"], partition_cols=["__g"])
    ng = per_gv.groupBy("__g").agg(F.sum("__c").cast("long").alias("__n"))
    k1 = (F.col("__n") + 1) / 2
    k2 = (F.col("__n") + 2) / 2
    sel = run.join(F.broadcast(ng), "__g")
    le = F.col("__run___c")
    lo = le - F.col("__c")  # exclusive count below this value
    med = (
        sel.groupBy("__g")
        .agg(
            (
                (
                    F.min(
                        F.when(
                            (le >= F.floor(k1)) & (lo < F.floor(k1)), F.col("__v")
                        )
                    )
                    + F.min(
                        F.when(
                            (le >= F.floor(k2)) & (lo < F.floor(k2)), F.col("__v")
                        )
                    )
                )
                / 2.0
            ).alias("__med")
        )
    )
    z6 = F.round(F.abs(F.col("__v") - F.col("__med")), 6).cast("decimal(18,6)")
    grp = (
        per_gv.join(F.broadcast(med), "__g")
        .groupBy("__g")
        .agg(
            F.sum("__c").cast("long").alias("__n"),
            F.sum(F.col("__c") * z6).alias("__s1"),
            F.sum(F.col("__c") * z6 * z6).alias("__s2"),
        )
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("__n").cast("long").alias("n_total"),
        F.sum("__s1").alias("__t1"),
    )
    withtot = grp.crossJoin(F.broadcast(tot))
    nd = F.col("__n").cast("double")
    zbar_g = F.col("__s1").cast("double") / nd
    zbar = F.col("__t1").cast("double") / F.col("n_total").cast("double")
    bt = F.round(nd * (zbar_g - zbar) * (zbar_g - zbar), 6).cast("decimal(38,6)")
    wt = F.round(
        F.col("__s2").cast("double") - F.col("__s1").cast("double") * zbar_g, 6
    ).cast("decimal(38,6)")
    terms = withtot.groupBy("n_groups", "n_total").agg(
        F.sum(bt).alias("__b"), F.sum(wt).alias("__w")
    )
    n = F.col("n_total").cast("double")
    kk = F.col("n_groups").cast("double")
    bg = F.col("__b").cast("double")
    wg = F.col("__w").cast("double")
    f_bf = F.when(
        (F.col("n_groups") > 1) & (wg > 0),
        (n - kk) / (kk - 1.0) * bg / wg,
    )
    return terms.select(
        "n_groups",
        "n_total",
        F.round(bg, 6).alias("between_ss"),
        F.round(wg, 6).alias("within_ss"),
        F.round(f_bf, 6).alias("f_bf"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups -- the
    parametric partner of the rank battery (a45 location-rank, a52
    shape, a53 k-group, a54 spread): difference of MEANS without the
    pooled-variance assumption, with the Welch-Satterthwaite degrees
    of freedom.

    The cheapest test in the family: ONE map-side-combined aggregate,
    no rank, no window, no join.  Values quantize to DECIMAL(18,6)
    before the power sums (sum and sum-of-squares are then exact and
    addition-order-free; products of 6-dp operands are exact in
    DECIMAL(38,12)), and mean/variance/t/df finish in IEEE double from
    those exact inputs -- bit-identical across engines.  NULLs
    excluded.  Returns ONE row: n_a, n_b, mean_a, mean_b, t_stat, df
    (rounded 6; t/df null when either group has < 2 rows or both
    variances are 0).
    """
    v6 = F.col("__v").cast("decimal(18,6)")
    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"), F.col(value_col).cast("double").alias("__v")
    )
    is_a = F.col("__g") == group_a
    agg = two.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, v6)).alias("__s1a"),
        F.sum(F.when(~is_a, v6)).alias("__s1b"),
        F.sum(F.when(is_a, v6 * v6)).alias("__s2a"),
        F.sum(F.when(~is_a, v6 * v6)).alias("__s2b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    s1a, s1b = F.col("__s1a").cast("double"), F.col("__s1b").cast("double")
    s2a, s2b = F.col("__s2a").cast("double"), F.col("__s2b").cast("double")
    ma, mb = s1a / na, s1b / nb
    va = (s2a - s1a * s1a / na) / (na - 1.0)
    vb = (s2b - s1b * s1b / nb) / (nb - 1.0)
    sa, sb = va / na, vb / nb
    se2 = sa + sb
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se2 > 0)
    t = F.when(ok, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        ok, se2 * se2 / (sa * sa / (na - 1.0) + sb * sb / (nb - 1.0))
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("df"),
    )


def frequent_itemsets(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_size: int = 3,
) -> DataFrame:
    """Apriori frequent-itemset mining up to size 3: itemsets of
    co-purchased/co-occurring items with support >= min_support -- the
    market-basket classic behind "customers also bought" and feature
    co-occurrence audits.

    The scale story IS the Apriori property: every candidate is pruned
    by its frequent subsets BEFORE counting.  Baskets first drop
    infrequent items (an L1 semi-join -- the support threshold bounds
    the frequent-item list, so it broadcasts); pairs count only over
    pruned baskets; triples extend only L2-frequent pairs and are
    semi-joined against L2 on BOTH added edges, so the 3-way join
    space is the frequent-pair fan-out, never baskets x items^2.
    Per-level cost: one basket-keyed self-join + one map-side-combined
    count.  Returns (size, items sorted array, support).
    """
    if max_size not in (1, 2, 3):
        raise ValueError(f"max_size must be 1..3, got {max_size}")
    b = df.select(
        F.col(basket_col).alias("__o"), F.col(item_col).alias("__i")
    ).distinct()
    l1 = b.groupBy("__i").agg(F.count(F.lit(1)).cast("long").alias("support"))
    l1 = l1.filter(F.col("support") >= min_support)
    out = l1.select(
        F.lit(1).cast("int").alias("size"),
        F.array(F.col("__i")).alias("items"),
        "support",
    )
    if max_size == 1:
        return out
    # pruned baskets feed BOTH sides of the pair join and the triple
    # extension: persist so each level reads the L1-pruned frame
    # instead of re-deriving the distinct+semi-join chain per branch
    pruned = b.join(F.broadcast(l1.select("__i")), "__i", "left_semi").persist()
    x = pruned.select(F.col("__o"), F.col("__i").alias("__i1"))
    y = pruned.select(F.col("__o"), F.col("__i").alias("__i2"))
    pair_rows = x.join(y, "__o").filter(F.col("__i1") < F.col("__i2"))
    l2 = (
        pair_rows.groupBy("__i1", "__i2")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    out = out.unionByName(
        l2.select(
            F.lit(2).cast("int").alias("size"),
            F.array("__i1", "__i2").alias("items"),
            "support",
        )
    )
    if max_size == 2:
        return out
    # triples: only L2-frequent pairs extend, and both added edges
    # (i1,i3) and (i2,i3) must also be L2-frequent (Apriori prune)
    fp = pair_rows.join(F.broadcast(l2.select("__i1", "__i2")), ["__i1", "__i2"], "left_semi")
    z = pruned.select(F.col("__o"), F.col("__i").alias("__i3"))
    triple_rows = (
        fp.join(z, "__o")
        .filter(F.col("__i2") < F.col("__i3"))
        .join(
            F.broadcast(
                l2.select(F.col("__i1"), F.col("__i2").alias("__i3"))
            ),
            ["__i1", "__i3"],
            "left_semi",
        )
        .join(
            F.broadcast(
                l2.select(F.col("__i1").alias("__i2"), F.col("__i2").alias("__i3"))
            ),
            ["__i2", "__i3"],
            "left_semi",
        )
    )
    l3 = (
        triple_rows.groupBy("__i1", "__i2", "__i3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return out.unionByName(
        l3.select(
            F.lit(3).cast("int").alias("size"),
            F.array("__i1", "__i2", "__i3").alias("items"),
            "support",
        )
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    min_confidence: float = 0.0,
) -> DataFrame:
    """Association rules X -> Y from the frequent pairs: confidence =
    supp(X,Y)/supp(X) and lift = confidence / P(Y) -- the
    recommendation readout on top of frequent_itemsets ("customers who
    bought X also bought Y", flagging lift > 1 as real affinity vs
    popularity).  Both directions of every frequent pair are emitted.

    Pure post-processing of the mining output: the pair and item
    supports are the L2/L1 aggregates (each map-side combined); the
    rule table is frequent-pair-cardinality, joined to the broadcast
    L1 support list twice.  n_baskets is a single-row broadcast.
    Exact-long ratios finished in IEEE double, rounded for stability.
    """
    sets = frequent_itemsets(
        df, basket_col, item_col, min_support=min_support, max_size=2
    )
    l1 = sets.filter(F.col("size") == 1).select(
        F.element_at("items", 1).alias("item"), F.col("support").alias("s1")
    )
    pairs = sets.filter(F.col("size") == 2).select(
        F.element_at("items", 1).alias("x"),
        F.element_at("items", 2).alias("y"),
        F.col("support").alias("s_xy"),
    )
    n_baskets = (
        df.select(F.col(basket_col)).distinct().agg(F.count(F.lit(1)).alias("__n"))
    )
    both = pairs.unionByName(
        pairs.select(
            F.col("y").alias("x"), F.col("x").alias("y"), "s_xy"
        )
    )
    rules = (
        both.join(F.broadcast(l1.withColumnRenamed("item", "x")
                              .withColumnRenamed("s1", "s_x")), "x")
        .join(F.broadcast(l1.withColumnRenamed("item", "y")
                          .withColumnRenamed("s1", "s_y")), "y")
        .join(F.broadcast(n_baskets))
    )
    conf = F.col("s_xy").cast("double") / F.col("s_x").cast("double")
    lift = conf * F.col("__n").cast("double") / F.col("s_y").cast("double")
    return (
        rules.filter(conf >= F.lit(float(min_confidence)))
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            F.col("s_xy").alias("support"),
            F.round(conf, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
    )


# Poisson(1) inverse-CDF thresholds as 8-hex-char md5-prefix cutoffs:
# floor(cdf_k * 2^32) in lowercase hex.  Comparing a FIXED-LENGTH
# lowercase hex prefix against these strings is the numeric comparison
# u >= cdf_k, and both Spark and DuckDB evaluate it byte-identically --
# the trick that makes the bootstrap weights cross-engine deterministic
# with no float parsing at all.  Tail truncated at w=9 (P ~ 1.1e-6).
_POISSON1_HEX = [
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5",
    "ffd90f3b", "fffa8b71", "ffff540c", "ffffed1f",
]


def bootstrap_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_replicates: int = 200,
    lo_rank: int = 5,
    hi_rank: int = 196,
) -> DataFrame:
    """Distributed bootstrap confidence interval for the per-group mean
    via Poisson resampling: instead of materializing R resamples, every
    row gets a deterministic Poisson(1) weight per replicate (the
    standard large-n approximation of multinomial resampling -- one
    pass, no data movement beyond the aggregation shuffle).

    Weights derive from md5(id:replicate) hex prefixes compared against
    precomputed CDF cutoffs (_POISSON1_HEX), so the oracle reproduces
    the exact weights and the gate value-checks the CI bounds, not just
    their shape.  Replicate means use DECIMAL sums (exact, order-free);
    CI bounds are RANK-SELECTED from the sorted replicate means
    (lo_rank/hi_rank of n_replicates, default the 2.5%/97.5% ranks of
    R=200) -- integer rank selection, not interpolation, because
    engines disagree on quantile interpolation rules.

    At 100 TB: the explode multiplies rows by R BEFORE the shuffle but
    after scan-side projection (id, group, value only); partial
    aggregation combines map-side, so the shuffle carries
    groups x replicates rows, not data x R.  Returns
    (group, n_rows, point_mean, ci_lo, ci_hi).
    """
    if not 1 <= lo_rank <= hi_rank <= n_replicates:
        raise ValueError(
            f"need 1 <= lo_rank <= hi_rank <= n_replicates, got "
            f"{lo_rank}/{hi_rank}/{n_replicates}"
        )
    g, v = F.col(group_col), F.col(value_col).cast("decimal(18,2)")

    # one md5 serves FOUR replicates: its 32 hex chars are four
    # independent 8-char uniforms (lane = r % 4 picks the slice).  The
    # replicate fan-out is TWO codegen explodes: first the ceil(R/4)
    # hash indices (one md5 per exploded row -- exactly R/4 digests per
    # input row), then a posexplode of the plain 4-element lane-weight
    # array built off that digest, with __r = 4*hash_idx + lane.  The
    # original shape exploded __r FIRST and computed md5(id, r/4) per
    # exploded row -- R digests per input row, 4x the intended work
    # (identical VALUES repeat within a 4-lane group, but Catalyst
    # evaluates per row).  An r11 HOF variant (nested transform
    # let-bindings building the full R-weight array per row) hit the
    # CodegenFallback interpreter instead and measured ~1s SLOWER than
    # even the 4x-digest shape (interleaved fresh-session A/B: warm
    # 3.4-4.5s vs 2.8-3.6s); this two-explode form keeps whole-stage
    # codegen AND the 4x digest saving, and the generated method stays
    # small (one md5 + 4 nine-branch indicator sums).  Weights are
    # byte-identical in all three shapes (oracle-pinned).
    def _weight(u: Column) -> Column:
        w = None
        for t in _POISSON1_HEX:
            ind = F.when(u >= F.lit(t), 1).otherwise(0)
            w = ind if w is None else (w + ind)
        return w

    n_hashes = (int(n_replicates) + 3) // 4
    dig = F.md5(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.col("__hh").cast("string"),
        )
    )
    # the weight array MUST be materialized as a Project column before
    # the posexplode: whole-stage codegen's subexpression elimination
    # collapses the 36 md5/substr references inside a Project to one
    # digest per row, but generator expressions are evaluated outside
    # CSE -- posexplode(<array expr>) re-ran the md5 per threshold
    # branch (measured 24-32s vs ~3s for this query at sf0.1)
    lane_w = F.array(
        *[_weight(dig.substr(F.lit(lane * 8 + 1), F.lit(8))) for lane in range(4)]
    )
    # spread the compact input BEFORE the R-fold explode: a single-file
    # scan would otherwise fan out R x rows inside one task (one small
    # shuffle of the raw rows buys R-way parallel expression work)
    spread = df.select(group_col, value_col, id_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    rep = (
        spread.select(
            g.alias("__g"),
            v.alias("__v"),
            F.col(id_col).alias(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("__hh"),
        )
        .select("__g", "__v", "__hh", lane_w.alias("__ws"))
        # posexplode_OUTER: the inner form lets InferFiltersFromGenerate
        # clone the whole 36-md5 array expression into a pushed-down
        # size() filter (the explode_nonempty trap, llm/text.py) -- the
        # outer form infers nothing, and the array is never null/empty
        # by construction so the semantics are identical
        .select(
            "__g",
            "__v",
            "__hh",
            F.posexplode_outer(F.col("__ws")).alias("__lane", "__w"),
        )
        .select(
            "__g",
            "__v",
            (F.col("__hh") * 4 + F.col("__lane")).alias("__r"),
            "__w",
        )
        .filter(F.col("__r") < n_replicates)
        .withColumn("__w", F.col("__w").cast("decimal(10,0)"))
        .groupBy("__g", "__r")
        # exact DECIMAL sums (addition-order-free), then ONE double
        # division -- both engines produce the identical IEEE quotient
        .agg(
            F.sum(F.col("__w") * F.col("__v")).alias("__swv"),
            F.sum("__w").alias("__sw"),
        )
        .withColumn(
            "__mean",
            F.round(
                F.when(
                    F.col("__sw") > 0,
                    F.col("__swv").cast("double") / F.col("__sw").cast("double"),
                ),
                6,
            ),
        )
        .drop("__swv", "__sw")
    )
    # a replicate whose total Poisson weight is 0 (probability e^-n per
    # replicate -- material for groups with <~10 rows) has no mean;
    # Spark's ascending row_number would sort that NULL FIRST and shift
    # lo/hi onto the wrong replicate, so drop empty replicates before
    # ranking (the DuckDB oracle does the same via HAVING sum(w) > 0);
    # lo/hi ranks are then over SURVIVING replicates
    rk = Window.partitionBy("__g").orderBy(F.asc("__mean"), F.asc("__r"))
    ranked = rep.filter(F.col("__mean").isNotNull()).withColumn(
        "__rk", F.row_number().over(rk)
    )
    bounds = (
        ranked.groupBy("__g")
        .agg(
            F.max(F.when(F.col("__rk") == lo_rank, F.col("__mean"))).alias("ci_lo"),
            F.max(F.when(F.col("__rk") == hi_rank, F.col("__mean"))).alias("ci_hi"),
        )
    )
    point = df.groupBy(g.alias("__g")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        # exact decimal sum / double division, same discipline as the
        # replicate means
        F.round(
            F.sum(v).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("point_mean"),
    )
    return (
        point.join(bounds, "__g")
        .select(
            F.col("__g").alias(group_col),
            "n_rows",
            "point_mean",
            "ci_lo",
            "ci_hi",
        )
    )


def skew_agg(
    df: DataFrame,
    key: str,
    value_col: str,
    member_col: str,
    salt_buckets: int = 32,
) -> DataFrame:
    """Skew-safe two-phase aggregation over a hot-keyed column.

    At 100 TB a plain ``groupBy(key)`` funnels every row of a hot key
    through ONE reducer task; this rewrite spreads each key over
    ``salt_buckets`` reducers by salting the grouping key with a
    deterministic row hash (phase 1), then merges the bounded per-salt
    partials (phase 2) -- sum and count merge losslessly, so the result
    is exact, and the phase-2 shuffle carries at most
    ``n_keys * salt_buckets`` rows regardless of input size.  The exact
    per-key distinct goes through a (key, member) pre-dedup whose
    shuffle key includes the member and therefore never concentrates on
    a hot key (the classic skew-safe count-distinct rewrite; also
    avoids Spark's expand-based distinct-aggregate path).

    Value sums route through DECIMAL(18,6) so partial-merge order can't
    change the result (cross-engine exact vs the DuckDB oracle).

    Beyond-reference scale operator; the reference's only aggregation
    is a tiny in-memory mode-map (etl_payroll_pipeline.py:264-276).
    """
    k = F.col(key)
    salt = F.pmod(
        F.xxhash64(F.col(member_col), F.col(value_col)), F.lit(salt_buckets)
    )
    partials = (
        df.groupBy(k.alias("__k"), salt.alias("__salt"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__sv"),
        )
    )
    merged = partials.groupBy("__k").agg(
        F.sum("__n").cast("long").alias("n_rows"),
        F.sum("__sv").cast("double").alias("total_value"),
    )
    distinct = (
        df.select(k.alias("__k"), F.col(member_col).alias("__m"))
        .distinct()
        .groupBy("__k")
        .agg(F.count("__m").cast("long").alias("n_members"))
    )
    return merged.join(distinct, "__k").select(
        F.col("__k").alias(key), "n_rows", "total_value", "n_members"
    )


def heavy_hitters(
    df: DataFrame,
    key: str,
    phi: float = 0.05,
    member_cap: int = 256,
) -> DataFrame:
    """EXACT phi-heavy hitters (keys with frequency > phi * N) in two
    bounded passes -- the Misra-Gries candidate / exact-recount rewrite.

    Why not one groupBy?  At 100 TB a URL/token/user column can carry
    billions of DISTINCT keys; the full-cardinality shuffle costs more
    than the answer needs.  Pass 1 runs Misra-Gries summaries per
    partition (state <= member_cap counters, mapInPandas, no shuffle):
    MG guarantees any key with global frequency > N/member_cap survives
    SOME partition summary, so with member_cap >= 1/phi the candidate
    union is a superset of the true heavy hitters.  Pass 2 recounts
    ONLY the candidates exactly (broadcast semi-join + groupBy over the
    few surviving keys).  Output is exact, so the gate carries a full
    DuckDB value oracle; the MG stage is a lossless candidate pruner,
    never an estimator.

    Returns (key, n_rows, share) for keys with share > phi,
    share = n_rows / N rounded 6.  NULL keys are excluded up front on
    BOTH sides of the computation (candidates and the N denominator):
    the MG pass cannot track None as a counter key, so counting nulls
    only in the denominator would silently skew shares on a NULL-heavy
    column (its oracle filters the same way).
    """
    import pandas as pd

    cap = int(member_cap)
    if cap < int(1.0 / phi) + 1:
        raise ValueError(f"member_cap {cap} < 1/phi -- MG superset guarantee lost")

    df = df.filter(F.col(key).isNotNull())

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            for v in pdf[key]:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < cap:
                    counters[v] = 1
                else:
                    dead = [k for k in counters if counters[k] == 1]
                    for k in counters:
                        counters[k] -= 1
                    for k in dead:
                        del counters[k]
        yield pd.DataFrame({key: list(counters.keys())})

    key_type = dict(df.dtypes)[key]
    candidates = (
        df.select(key)
        .mapInPandas(mg, f"{key} {key_type}")
        .distinct()
        .localCheckpoint(eager=True)
    )
    total = df.count()
    counted = (
        df.join(F.broadcast(candidates), key, "left_semi")
        .groupBy(key)
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    return (
        counted.filter(F.col("n_rows") > float(phi) * total)
        .select(
            key,
            "n_rows",
            F.round(F.col("n_rows") / F.lit(float(total)), 6).alias("share"),
        )
    )


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: D = sup |ECDF_a - ECDF_b|,
    with the asymptotic significance scale lambda =
    (sqrt(en) + 0.12 + 0.11/sqrt(en)) * D (Numerical Recipes form) --
    the distribution-shape sibling of the Mann-Whitney location test
    (a45).  Exact rank mechanics: at ties the ECDF step is evaluated
    AFTER all equal values (the sup over the right-continuous ECDFs),
    via cumulative counts at each distinct pooled value.  The
    cumulative counts come from _value_running_totals' range-bucketed
    offsets -- one value-keyed aggregate, bucket-partitioned
    within-windows, a <=64-row offsets frame, and scalar counts
    broadcast; no unpartitioned corpus-scale window in the plan.

    NULL measurements are excluded: an ECDF is defined over observed
    values only, and Spark's window ORDER BY sorts NULL first while
    DuckDB's ORDER BY sorts NULL last, so letting NULLs into the
    running counts would shift d_stat engine-dependently.
    """
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    )
    # materialize the distinct-value frame once (a45's discipline: the
    # bounds probe, bucket totals, running-sum consumer, and the (n_a,
    # n_b) totals all read it; corpus scanned exactly once)
    per_val = (
        base.groupBy("__v")
        .agg(
            F.sum(F.when(F.col("__g") == group_a, 1).otherwise(0)).alias("__ca"),
            F.sum(F.when(F.col("__g") == group_b, 1).otherwise(0)).alias("__cb"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per_val.agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum("__cb").cast("long").alias("n_b"),
    )
    steps = _value_running_totals(per_val, "__v", ["__ca", "__cb"]).select(
        F.col("__run___ca").alias("__fa"),
        F.col("__run___cb").alias("__fb"),
    )
    d = (
        steps.crossJoin(F.broadcast(tot))
        .select(
            "n_a", "n_b",
            F.abs(
                F.col("__fa") / F.col("n_a") - F.col("__fb") / F.col("n_b")
            ).alias("__d"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.round(F.max("__d"), 6).alias("d_stat"))
    )
    en = F.sqrt(
        (F.col("n_a") * F.col("n_b")).cast("double")
        / (F.col("n_a") + F.col("n_b"))
    )
    return d.select(
        "n_a", "n_b", "d_stat",
        F.round((en + F.lit(0.12) + F.lit(0.11) / en) * F.col("d_stat"), 6).alias(
            "ks_lambda"
        ),
    )
