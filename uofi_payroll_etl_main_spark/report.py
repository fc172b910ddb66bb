"""Validation / quality operators (SURVEY.md section 2.8, V2-V4).

The reference's correctness machinery is runtime print-warnings
(etl_payroll_pipeline.py:179-194, :314-316, :457-471, :423-426).  Here
they become a structured RunReport the pipeline returns alongside its
frames, so callers (and tests) can assert on them instead of scraping
stdout.
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = ["RunReport", "FanOutWarning", "check_schema", "table_counts", "observe_counts", "check_expectations", "reconcile", "k_anonymity", "psi_report", "benford_report", "l_diversity", "chi_square_drift", "dp_counts", "dp_noise_sql"]


class FanOutWarning(UserWarning):
    """Raised as a warning when a left join fans out the fact side (V1)."""


@dataclass
class RunReport:
    """V3/V4 -- warnings and observed facts for one pipeline run.

    Watched fan-out counts (`watch_fan_out`) follow the `Observation.get`
    contract: the first read of `warnings`, `fan_out` or `summary()` after
    an action has consumed the watched frame records each check and, where
    the count changed, a warning message plus a `FanOutWarning`.  A read
    before any such action blocks until one finishes.
    """

    missing_output_sources: dict[str, list[str]] = field(default_factory=dict)
    schema_ok: dict[str, bool] = field(default_factory=dict)
    _warnings: list[str] = field(default_factory=list)
    _fan_out: list[tuple[str, int, int]] = field(default_factory=list)
    _watched: list[tuple[str, Observation, Observation]] = field(default_factory=list, repr=False)

    def warn(self, msg: str) -> None:
        self._warnings.append(msg)

    def watch_fan_out(self, label: str, before: Observation, after: Observation) -> None:
        """Ref safe_merge_left :226-232: compare the `observe_counts` row
        counts taken before and after a join once an action has run."""
        self._watched.append((label, before, after))

    def _read_watched(self) -> None:
        while self._watched:
            label, before, after = self._watched.pop(0)
            n_before, n_after = before.get["n_rows"], after.get["n_rows"]
            self._fan_out.append((label, n_before, n_after))
            if n_before != n_after:
                msg = f"{label} changed the row count: {n_before} -> {n_after}"
                self.warn(msg)
                warnings.warn(msg, FanOutWarning, stacklevel=3)

    @property
    def warnings(self) -> list[str]:
        self._read_watched()
        return self._warnings

    @property
    def fan_out(self) -> list[tuple[str, int, int]]:
        """(join, rows before, rows after) for every watched join."""
        self._read_watched()
        return self._fan_out

    def summary(self) -> dict:
        return {
            "fan_out": self.fan_out,
            "missing_output_sources": self.missing_output_sources,
            "schema_ok": self.schema_ok,
            "warnings": self.warnings,
        }


def check_schema(
    df: DataFrame, expected: Sequence[str], report: RunReport | None = None, name: str = "frame"
) -> bool:
    """V2 -- ordered column-list contract check, warn-only (ref
    :457-471)."""
    ok = list(df.columns) == list(expected)
    if report is not None:
        report.schema_ok[name] = ok
        if not ok:
            report.warn(
                f"schema mismatch for {name}: expected {list(expected)}, got {list(df.columns)}"
            )
    return ok


def table_counts(spark: SparkSession, tables: dict[str, DataFrame]) -> DataFrame:
    """V4 -- rowcount metrics as a DataFrame (one count action per table;
    counts are metadata-scale, fine to union driver-side)."""
    rows = [(name, df.count()) for name, df in sorted(tables.items())]
    out = spark.createDataFrame(rows, "table_name string, row_count long")
    return out.orderBy(F.col("table_name"))


def skew_report(df: DataFrame, key_cols: list[str], top: int = 20) -> DataFrame:
    """Shuffle-key skew diagnostic: the `top` heaviest key values with
    their row counts and share of the table -- the number you need
    BEFORE choosing salt width / AQE skew thresholds for a join or agg
    on these keys.

    One aggregation (map-side partial), then orderBy+limit -- which
    plans as TakeOrderedAndProject (per-partition partial top-k merged
    on the driver), NOT a global sort, so the distinct-key table never
    converges on one node.  The rank window runs on the `top` surviving
    rows only.  (count desc, key asc) ordering keeps the emitted set
    deterministic; share divides exact longs, so it compares exactly
    across engines.
    """
    from pyspark.sql import Window

    keys = [F.col(c) for c in key_cols]
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__tot"))
    topk = counts.orderBy(F.col("n_rows").desc(), *keys).limit(top)
    w = Window.orderBy(F.col("n_rows").desc(), *keys)
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .join(F.broadcast(total))
        .select(*key_cols, "n_rows", "rank", (F.col("n_rows") / F.col("__tot")).alias("share"))
    )


def profile_table(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Column-level data-quality profile: rows, nulls, approximate
    distincts, min/max (as strings, type-agnostic) -- one row per
    column, ONE pass over the table (all aggregates ride a single
    global aggregation; HLL keeps distinct counting mergeable, no
    second shuffle per column).

    The blank-vs-null distinction mirrors the engine's is_blankish
    house rule, so profile numbers predict E11-style defaulting.
    """
    cols = list(columns) if columns is not None else df.columns
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.approx_count_distinct(col).alias(f"{c}__distinct_est"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__rows").cast("long").alias("n_rows"),
                F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
                F.col(f"{c}__distinct_est").cast("long").alias("n_distinct_est"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def observe_counts(df: DataFrame):
    """V4 at scale: attach a row count to the frame itself via
    `Dataset.observe`, so it rides the NEXT action over the plan instead
    of costing a scan of its own.  The observation gets a random name:
    one plan may not hold two observations of the same name.

    Returns (df, observation); read `observation.get["n_rows"]` AFTER an
    action has consumed `df` (it blocks until one has).
    """
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n_rows")), obs


def check_expectations(df: DataFrame, expectations: Sequence[dict]) -> DataFrame:
    """Declarative data-quality expectations (the V-family at contract
    level, deequ-shape): evaluate a list of rules in ONE aggregate pass
    over the frame and return a (rule, column, metric, threshold,
    passed) report DataFrame.

    Supported rule kinds:
      {"kind": "not_null",  "col": c, "max_null_frac": f}
      {"kind": "unique",    "col": c}                     # distinct == rows
      {"kind": "in_range",  "col": c, "lo": x, "hi": y}   # all non-null in [lo, hi]
      {"kind": "in_set",    "col": c, "values": [...]}    # all non-null members
      {"kind": "min_rows",  "n": k}

    Everything folds into a single wide agg (map-side partials, one
    scan, no per-rule jobs), then unpivots to the report -- on a
    100 TB fact the scan IS the cost, so rules must share it.
    `unique` uses exact count_distinct: it shares the same shuffle
    stage; swap approx_count_distinct in if a tolerance is acceptable.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, e in enumerate(expectations):
        k = e["kind"]
        if k == "not_null":
            aggs.append(
                F.sum(F.when(F.col(e["col"]).isNull(), 1).otherwise(0)).alias(f"__m{i}")
            )
        elif k == "unique":
            aggs.append(F.count_distinct(F.col(e["col"])).alias(f"__m{i}"))
        elif k == "in_range":
            bad = F.col(e["col"]).isNotNull() & (
                (F.col(e["col"]) < e["lo"]) | (F.col(e["col"]) > e["hi"])
            )
            aggs.append(F.sum(F.when(bad, 1).otherwise(0)).alias(f"__m{i}"))
        elif k == "in_set":
            bad = F.col(e["col"]).isNotNull() & ~F.col(e["col"]).isin(list(e["values"]))
            aggs.append(F.sum(F.when(bad, 1).otherwise(0)).alias(f"__m{i}"))
        elif k == "min_rows":
            aggs.append(F.count(F.lit(1)).alias(f"__m{i}"))
        else:
            raise ValueError(f"unknown expectation kind: {k!r}")
    wide = df.agg(*aggs)
    n = F.col("__n").cast("double")
    rows = []
    for i, e in enumerate(expectations):
        k = e["kind"]
        m = F.coalesce(F.col(f"__m{i}").cast("double"), F.lit(0.0))
        if k == "not_null":
            thr = float(e.get("max_null_frac", 0.0))
            metric = F.when(n > 0, m / n).otherwise(F.lit(0.0))
            passed = metric <= thr
        elif k == "unique":
            thr = 1.0
            metric = F.when(n > 0, m / n).otherwise(F.lit(1.0))
            passed = metric >= thr
        elif k in ("in_range", "in_set"):
            thr = 0.0
            metric = m
            passed = m <= 0
        else:  # min_rows
            thr = float(e["n"])
            metric = m
            passed = m >= thr
        rows.append(
            F.struct(
                F.lit(k).alias("rule"),
                F.lit(e.get("col", "*")).alias("column"),
                metric.cast("double").alias("metric"),
                F.lit(thr).cast("double").alias("threshold"),
                passed.alias("passed"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def check_freshness(
    events: DataFrame,
    ts_col: str = "ts",
    gap_factor: float = 0.5,
    trailing_days: int = 7,
) -> DataFrame:
    """Operational freshness/completeness report: per event-day row
    counts, each compared against the mean of the `trailing_days`
    PRECEDING days; a day is flagged as a gap when its volume falls
    below `gap_factor` x that baseline.  The first days (no baseline
    yet) are never flagged.

    The canary for silent upstream breakage -- a dead producer shows up
    as a gap day, a late backfill as a recovered one.  One groupBy to
    day grain (the window then runs over ~365 rows/year -- metadata
    scale); counts are exact longs, the baseline is sum/count division
    (bit-stable across engines).

    Days with ZERO events are materialized explicitly: a complete day
    spine (sequence(min day, max day)) is left-joined to the observed
    counts with coalesce(n, 0), so a fully dead day appears as a
    0-count gap row instead of silently vanishing -- and the trailing
    window's baseline is a true per-calendar-day mean, never stretched
    across missing days.  The spine is derived from the already-
    aggregated day table, so events is still scanned exactly once.
    """
    from pyspark.sql import Window

    observed = (
        events.groupBy(F.to_date(F.col(ts_col)).alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    bounds = observed.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    days = (
        spine.join(observed, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_events"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-int(trailing_days), -1)
    base = F.avg("n_events").over(w)
    return days.select(
        "day",
        "n_events",
        base.alias("trailing_mean"),
        F.when(
            base.isNotNull() & (F.col("n_events") < F.lit(float(gap_factor)) * base),
            F.lit(True),
        )
        .otherwise(F.lit(False))
        .alias("is_gap"),
    )


def reconcile(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Row-level reconciliation of two keyed snapshots/sources -- the
    "did the migration/backfill/replica produce the same table" report:

      metric 'only_left'  / 'only_right' -- keys present on one side
      metric 'matched'                   -- keys present on both
      metric 'mismatch' per compared col -- matched keys whose values
                                            differ (null-safe: one-side
                                            null counts as a mismatch,
                                            null==null does not)

    ONE full-outer join on the key + ONE aggregate row, unpivoted to
    (metric, column, n) via stack -- no per-column scans, no collect;
    at 100 TB this is a single key shuffle exactly like the d5
    snapshot-diff, with the per-column comparison folded into
    conditional sums inside the same aggregate.

    compare_cols defaults to the non-key columns both sides share.
    Output ordered (metric, column) for a stable report.
    """
    key_list = list(keys)
    if compare_cols is None:
        compare_cols = [
            c
            for c in left.columns
            if c in set(right.columns) and c not in set(key_list)
        ]
    cols = list(compare_cols)
    l = left.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_list],
        *[F.col(c).alias(f"__l_{c}") for c in cols],
        F.lit(1).alias("__in_l"),
    )
    r = right.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_list],
        *[F.col(c).alias(f"__r_{c}") for c in cols],
        F.lit(1).alias("__in_r"),
    )
    j = l.join(r, [f"__k_{k}" for k in key_list], "full_outer")
    in_l = F.col("__in_l").isNotNull()
    in_r = F.col("__in_r").isNotNull()
    both = in_l & in_r
    aggs = [
        F.sum((in_l & ~in_r).cast("long")).alias("only_left"),
        F.sum((~in_l & in_r).cast("long")).alias("only_right"),
        F.sum(both.cast("long")).alias("matched"),
    ]
    for c in cols:
        diff = ~F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}"))
        aggs.append(F.sum((both & diff).cast("long")).alias(f"__mm_{c}"))
    one = j.agg(*aggs)
    stack_args = ["'only_left', '', only_left", "'only_right', '', only_right", "'matched', '', matched"]
    for c in cols:
        stack_args.append(f"'mismatch', '{c}', `__mm_{c}`")
    n = len(stack_args)
    out = one.selectExpr(
        f"stack({n}, {', '.join(stack_args)}) as (metric, column, n)"
    )
    return out.select(
        "metric", "column", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    ).orderBy("metric", "column")


def k_anonymity(
    df: DataFrame, quasi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit before a training-data release: group rows by
    the quasi-identifier combination and flag equivalence classes
    smaller than k -- those rows are re-identifiable by linking the
    quasi-identifiers to an external dataset (Sweeney's attack model).
    Returns one row per class: the quasi values, class_size, and
    at_risk.  Callers suppress or generalize the at_risk classes before
    publishing.  ONE groupBy with map-side partial aggregation; shuffle
    volume is the class cardinality, not the row count -- at 100 TB the
    audit costs one scan."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cols = list(quasi_cols)
    return df.groupBy(*cols).agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    ).select(
        *cols,
        "class_size",
        (F.col("class_size") < k).alias("at_risk"),
    )


def psi_report(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    nbins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two slices of a numeric
    column -- the standard model-monitoring drift metric (PSI < 0.1
    stable, 0.1-0.25 moderate shift, > 0.25 investigate).  Bins are
    equal-width over the COMBINED min/max so both slices share edges;
    zero-count bins are clamped to `eps` share before the log (the
    conventional finite-PSI guard).  Returns one row per bin:
    (bin, n_a, n_b, share_a, share_b, psi_term); sum(psi_term) is the
    index.

    Scale: two scans (one per slice) reduced to nbins rows each with
    map-side combine, one single-row bounds broadcast, one nbins-row
    join -- the histogram shape twice; nothing fact-scale shuffles.
    """
    x_a = F.col(col).cast("double")
    tagged = df_a.select(x_a.alias("__v"), F.lit(0).alias("__s")).unionByName(
        df_b.select(x_a.alias("__v"), F.lit(1).alias("__s"))
    ).filter(F.col("__v").isNotNull())
    bounds = tagged.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    v = F.col("__v")
    bin_expr = (
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((v - F.col("__lo")) * F.lit(nbins) / (F.col("__hi") - F.col("__lo"))),
                F.lit(nbins - 1),
            )
        )
        .cast("long")
    )
    counts = (
        tagged.join(F.broadcast(bounds))
        .groupBy(bin_expr.alias("bin"))
        .agg(
            F.sum(F.when(F.col("__s") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("__s") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        )
    )
    totals = counts.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb")
    )
    e = F.lit(float(eps))
    sa = F.greatest(F.col("n_a") / F.col("__ta"), e)
    sb = F.greatest(F.col("n_b") / F.col("__tb"), e)
    return (
        counts.join(F.broadcast(totals))
        .select(
            "bin",
            "n_a",
            "n_b",
            F.round(sa, 6).alias("share_a"),
            F.round(sb, 6).alias("share_b"),
            F.round((sa - sb) * F.log(sa / sb), 6).alias("psi_term"),
        )
    )


def benford_report(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-digit audit of a positive numeric column --
    the classic forensic screen for fabricated financial figures
    (payment amounts, expense totals): naturally-occurring multi-scale
    quantities put digit d first with probability log10(1 + 1/d);
    fabricated data is usually too uniform.  Returns one row per digit
    1-9: observed count/share, expected share, and the chi-square term
    n_total*(obs-exp)^2/exp -- sum the terms and compare to the
    chi-square(8 dof) critical value (15.5 at 5%).  Non-positive and
    null values are excluded (they have no first significant digit).

    ONE groupBy on a 9-value key with map-side combine; the digit is
    pure arithmetic (floor/log10), no string casts in the hot path.
    """
    v = F.col(col).cast("double")
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("long")
    counts = (
        df.filter(v > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = counts.agg(F.sum("n").alias("__t"))
    obs = F.col("n") / F.col("__t")
    exp = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    return (
        counts.join(F.broadcast(totals))
        .select(
            "digit",
            "n",
            F.round(obs, 6).alias("observed_share"),
            F.round(exp, 6).alias("expected_share"),
            F.round(F.col("__t") * (obs - exp) * (obs - exp) / exp, 6).alias("chi2_term"),
        )
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit, the companion to k_anonymity: a class can be
    k-anonymous yet still leak the sensitive attribute if everyone in
    it SHARES the value (homogeneity attack).  Flags equivalence
    classes with fewer than l distinct sensitive values.  Returns one
    row per class: quasi values, class_size, n_sensitive, at_risk.
    Same single map-side-combined groupBy shape as k_anonymity; the
    distinct count is exact (count_distinct inside the same aggregate).
    """
    if l < 1:
        raise ValueError(f"l must be >= 1, got {l}")
    cols = list(quasi_cols)
    return df.groupBy(*cols).agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.count_distinct(F.col(sensitive_col)).cast("long").alias("n_sensitive"),
    ).select(
        *cols,
        "class_size",
        "n_sensitive",
        (F.col("n_sensitive") < l).alias("at_risk"),
    )


def chi_square_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
) -> DataFrame:
    """Chi-square homogeneity test between two slices of a CATEGORICAL
    column -- the categorical sibling of psi_report (PSI needs numeric
    bins; category mixes need the contingency test).  Expected counts
    come from the pooled distribution (E_sc = row_total_s *
    cat_total_c / grand); each output row carries both slices' terms
    for one category, so sum(chi2_term) over the report is the chi-
    square statistic with (|categories|-1) dof.

    One scan per slice reduced to category-cardinality rows with
    map-side combine, one single-row totals broadcast -- the v13
    shape.  Null categories count as their own 'NULL' bucket (a
    category disappearing INTO null is exactly the drift this exists
    to catch).
    """
    cat = F.coalesce(F.col(col).cast("string"), F.lit("NULL"))
    counts = (
        df_a.select(cat.alias("category"), F.lit(0).alias("__s"))
        .unionByName(df_b.select(cat.alias("category"), F.lit(1).alias("__s")))
        .groupBy("category")
        .agg(
            F.sum(F.when(F.col("__s") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("__s") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        )
    )
    totals = counts.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb")
    )
    j = counts.join(F.broadcast(totals))
    grand = (F.col("__ta") + F.col("__tb")).cast("double")
    ea = F.col("__ta").cast("double") * (F.col("n_a") + F.col("n_b")) / grand
    eb = F.col("__tb").cast("double") * (F.col("n_a") + F.col("n_b")) / grand
    term = (
        (F.col("n_a") - ea) * (F.col("n_a") - ea) / ea
        + (F.col("n_b") - eb) * (F.col("n_b") - eb) / eb
    )
    return j.select(
        "category",
        "n_a",
        "n_b",
        F.round(F.col("n_a") / F.col("__ta"), 6).alias("share_a"),
        F.round(F.col("n_b") / F.col("__tb"), 6).alias("share_b"),
        F.round(term, 6).alias("chi2_term"),
    )


def _hex6_val_sql(h_sql: str) -> str:
    """Integer value of the first 6 hex chars of `h_sql` as a plain
    ANSI CASE chain -- runs verbatim on Spark and DuckDB (neither
    needs conv()/from_hex parity this way)."""
    digits = []
    for i in range(1, 7):
        c = f"substring({h_sql}, {i}, 1)"
        case = (
            "CASE " + c + " "
            + " ".join(f"WHEN '{x}' THEN {int(x, 16)}" for x in "0123456789abcdef")
            + " END"
        )
        digits.append(f"({case}) * {16 ** (6 - i)}")
    return "(" + " + ".join(digits) + ")"


def dp_noise_sql(
    key_sql: str, epsilon: float = 1.0, sensitivity: float = 1.0, seed: int = 7
) -> str:
    """Laplace-mechanism noise as ONE portable SQL expression: u =
    (first 6 md5 hex chars + 0.5) / 16^6 in (0,1), noise = the Laplace
    inverse CDF b*sign-log transform with b = sensitivity/epsilon,
    rounded 6 (absorbs any last-ulp ln() divergence between engines).

    The md5-derived uniform makes the noise DETERMINISTIC -- a testing
    and audit-reproducibility seam, the same trick as the md5-HLL
    registers and Poisson-bootstrap weights.  A real privacy release
    MUST swap the md5 uniform for true randomness (deterministic noise
    keyed on public group labels provides zero privacy); the mechanism,
    sensitivity accounting, and release shape are what this certifies.
    """
    h = f"md5({key_sql} || ':{seed}')"
    u = f"(({_hex6_val_sql(h)} + 0.5) / 16777216.0)"
    b = float(sensitivity) / float(epsilon)
    return (
        f"round(CASE WHEN {u} < 0.5 THEN {b} * ln(2.0 * {u}) "
        f"ELSE -({b}) * ln(2.0 - 2.0 * {u}) END, 6)"
    )


def dp_counts(
    df: DataFrame, key: str, epsilon: float = 1.0, seed: int = 7
) -> DataFrame:
    """Differentially-private group-count release (Laplace mechanism,
    sensitivity 1 for count queries): the released table carries ONLY
    the noised counts, never the true ones.  Noise is md5-derived and
    deterministic (see dp_noise_sql -- an audit/testing seam, not a
    production privacy guarantee).  One aggregation shuffle; the noise
    is a scalar expression on the group row, so the release costs the
    same as the plain count."""
    g = df.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    noise = dp_noise_sql(key, epsilon=epsilon, seed=seed)
    return g.select(
        key,
        F.expr(f"round(__n + {noise}, 6)").alias("noisy_count"),
        F.lit(float(epsilon)).alias("epsilon"),
    )
