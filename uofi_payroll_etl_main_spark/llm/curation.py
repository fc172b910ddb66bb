"""Corpus curation for training-data pipelines: decontamination,
deterministic sampling/splits, sequence packing, and corpus reporting.

Everything except `pack_sequences` is pure Catalyst (codegen the whole
way); packing is an inherently sequential per-group fold, so it runs as
an Arrow-batched `applyInPandas` over the grouping column.

Scale notes (100 TB corpus, KB-to-MB benchmark):
  * decontaminate broadcasts the benchmark n-gram set -- the corpus is
    never shuffled, only scanned; contaminated ids (a tiny set) are
    broadcast back for the anti-join.
  * sampling/splits are hash-mod deterministic -- no RNG, no driver
    state, reproducible across reruns and engines.
  * pack_sequences shuffles once on the group column; each group's
    greedy fold is independent.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _ensure_parallelism, word_shingles
from .text import token_count

__all__ = [
    "decontaminate",
    "contamination_overlap",
    "boilerplate_ngrams",
    "boilerplate_fraction",
    "span_corruption",
    "fim_transform",
    "leakage_safe_split",
    "contaminated_ids",
    "stratified_sample",
    "split_assign",
    "pack_sequences",
    "corpus_stats",
    "percentile_filter",
    "cross_dedup",
    "redact_pii",
    "chunk_documents",
    "mixture_weights",
    "dedup_lines",
    "importance_sample",
    "shuffle_index",
    "curriculum_shards",
    "mixture_apply",
    "weighted_sample_topk",
    "length_buckets",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ids of corpus documents sharing >= 1 word n-gram with any
    benchmark document (the standard eval-decontamination test).

    The benchmark side (eval sets -- MBs at most) collapses to its
    distinct n-gram set and is BROADCAST; the 100 TB corpus side is a
    single scan -> explode -> broadcast-semi-join, no corpus shuffle.
    """
    bench_grams = (
        benchmark.select(F.explode(word_shingles(text_col, n)).alias("gram")).distinct()
    )
    # spread the corpus scan before the compute-bound shingle stage
    # (single-file local scans are one partition; no-op at scale)
    # explode_outer: dodges InferFiltersFromGenerate pushing the whole
    # gram expression onto the serial scan (see llm/text.explode_nonempty);
    # a null gram row can never pass the semi join below.
    doc_grams = _ensure_parallelism(docs).select(
        F.col(id_col), F.explode_outer(word_shingles(text_col, n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove documents that leak benchmark content: keep rows whose
    word n-gram set is disjoint from the benchmark's.

    Two broadcasts, zero corpus shuffles: the contaminated-id set is
    tiny (bounded by benchmark hit rate), so the final anti-join
    broadcasts it rather than repartitioning the corpus.
    """
    contam = contaminated_ids(docs, benchmark, n, id_col, text_col)
    return docs.join(F.broadcast(contam), id_col, "left_anti")


def contamination_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Graded contamination score: per corpus document, the fraction of
    its DISTINCT word n-grams that appear anywhere in the benchmark.

    The boolean decontaminate() drops on ANY shared gram; real
    curation policy usually wants a threshold ("drop above 20%
    overlap, audit above 5%"), which needs the graded view.  Returns
    (id, n_grams, n_hit, overlap_frac).

    Scale shape: identical to contaminated_ids -- the benchmark gram
    set broadcasts, the corpus is one scan -> explode -> broadcast
    left join; the only shuffle carries (id, two counters), never text.
    """
    bench_grams = (
        benchmark.select(F.explode(word_shingles(text_col, n)).alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    doc_grams = _ensure_parallelism(docs).select(
        F.col(id_col), F.explode_outer(word_shingles(text_col, n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            id_col,
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("overlap_frac"),
        )
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates_pct: dict[str, int],
    default_pct: int = 0,
    hash_key: bool = False,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row when
    `key mod 100 < rate_pct[stratum]`.

    Integer-threshold modulo (not `rand()`) makes the sample
    reproducible across reruns, engines, and partitionings -- the
    property a training pipeline needs for resumable runs.  With
    `hash_key=True` the key is xxhash64-mixed first (use when raw keys
    are not uniformly distributed, e.g. timestamps or block-allocated
    ids); leave False only for keys already uniform mod 100.
    """
    key = _c(key_col)
    if hash_key:
        key = F.xxhash64(key)
    bucket = F.pmod(key, F.lit(100))
    rate = F.lit(default_pct)
    for stratum, pct in sorted(rates_pct.items()):
        rate = F.when(_c(strata_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.filter(bucket < rate)


def split_assign(
    df: DataFrame,
    key_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    hash_key: bool = False,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by key-mod-100 bucket:
    [0, train) -> train, [train, train+val) -> val, rest -> test.

    Same reproducibility contract as stratified_sample; membership is a
    pure function of the key, so late-arriving data lands in a stable
    split and no reshuffle of history is ever needed.
    """
    key = _c(key_col)
    if hash_key:
        key = F.xxhash64(key)
    bucket = F.pmod(key, F.lit(100))
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn(out_col, split)


def pack_sequences(
    docs: DataFrame,
    budget: int = 256,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy first-fit-decreasing packing of documents into
    fixed-token-budget bins, per group -- the "sequence packing" step
    that turns a ragged corpus into dense training batches.

    Deterministic: within a group, docs are processed by
    (token_count desc, id asc) and placed in the first open bin with
    room; docs exceeding the budget get a singleton oversize bin.  The
    fold is sequential by nature, so it runs as applyInPandas per
    group: one shuffle on the group column, Arrow both ways, numpy
    inside.  Groups are independent -- at 100 TB parallelism is the
    number of groups (shard large groups upstream if needed).

    Output: (group, id, n_tokens, bin_id, oversize).
    """
    import pandas as pd

    sized = docs.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("doc"),
        token_count(text_col).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc"], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list[int] = []  # remaining capacity per bin
        assigned = []
        oversize = []
        for t in pdf.itertuples(index=False):
            if t.n_tokens > budget:
                bins.append(0)
                assigned.append(len(bins) - 1)
                oversize.append(True)
                continue
            for i, room in enumerate(bins):
                if t.n_tokens <= room:
                    bins[i] = room - t.n_tokens
                    assigned.append(i)
                    break
            else:
                bins.append(budget - t.n_tokens)
                assigned.append(len(bins) - 1)
            oversize.append(False)
        pdf["bin_id"] = pd.Series(assigned, dtype="int64")
        pdf["oversize"] = pd.Series(oversize, dtype="bool")
        return pdf

    out = sized.groupBy("grp").applyInPandas(
        pack, schema="grp string, doc long, n_tokens long, bin_id long, oversize boolean"
    )
    return out.select(
        F.col("grp").alias(group_col),
        F.col("doc").alias(id_col),
        "n_tokens",
        "bin_id",
        "oversize",
    )


def percentile_filter(
    df: DataFrame,
    order_col: str | Column,
    group_col: str,
    keep_top_frac: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the top `keep_top_frac` of each group by EXACT percentile
    (percent_rank over a totally-ordered window -- id tiebreak makes the
    cut deterministic, so the kept set is engine-independent).

    One shuffle on the group column.  At 100 TB the exact window sort is
    the honest cost of an exact cut; when an approximate cut is fine,
    compute the threshold with approx_quantiles (mergeable sketch, no
    global sort) and filter against it instead.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(_c(order_col).desc(), _c(id_col))
    return (
        df.withColumn("__pr", F.percent_rank().over(w))
        .filter(F.col("__pr") < keep_top_frac)
        .drop("__pr")
    )


def cross_dedup(
    corpus: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus dedup: drop corpus docs whose normalized fingerprint
    already occurs in `seen` (e.g. the previous training mix).

    Both sides reduce to 16-byte digests before they meet, so the
    anti-join shuffles digests, never text.  No hint: a benchmark-sized
    `seen` falls under the broadcast threshold (statically or through
    AQE) and broadcasts on its own, while a corpus-sized one -- "what we
    already trained on" usually is -- stays a shuffled anti-join.
    """
    from .text import fingerprint

    seen_fp = seen.select(fingerprint(text_col).alias("__fp")).distinct()
    return (
        corpus.withColumn("__fp", fingerprint(text_col))
        .join(seen_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking: overlapping windows of
    `chunk_tokens` whitespace tokens every `stride` tokens -- the
    pre-embedding / pre-tokenization split step.

    Pure Catalyst (sequence + slice + explode), narrow (no shuffle):
    chunking happens at scan speed and the fan-out factor is
    len/stride.  Output (id, chunk_start, n_tokens, chunk_text) with
    chunk_start a 1-based token offset.
    """
    from .text import bind1, normalize_text, tokens

    # tokens bound once per row (text.bind1): an outer chain referenced
    # from the chunk lambda would re-tokenize per chunk
    def _chunks(toks: Column) -> Column:
        k = F.size(toks)
        starts = F.when(k > 0, F.sequence(F.lit(1), k, F.lit(stride))).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            starts,
            lambda s: F.struct(
                s.cast("long").alias("chunk_start"),
                F.least(F.lit(chunk_tokens), k - s + 1).cast("long").alias("n_tokens"),
                F.array_join(F.slice(toks, s, chunk_tokens), " ").alias("chunk_text"),
            ),
        )

    chunks = bind1(tokens(normalize_text(text_col)), _chunks)
    return docs.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, "c.chunk_start", "c.n_tokens", "c.chunk_text"
    )


def mixture_weights(
    docs: DataFrame, group_col: str = "source", alpha: float = 0.7
) -> DataFrame:
    """Temperature-scaled mixture weights per corpus source:
    w_g ∝ n_g^alpha, normalized to sum 1 (alpha<1 upweights small
    sources -- the standard multi-source training-mix heuristic).

    One aggregation plus a single-row broadcast for the normalizer.
    """
    per = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    powed = per.withColumn("__p", F.pow(F.col("n_docs").cast("double"), F.lit(alpha)))
    total = powed.agg(F.sum("__p").alias("__tot"))
    return (
        powed.join(F.broadcast(total))
        .select(group_col, "n_docs", (F.col("__p") / F.col("__tot")).alias("weight"))
    )


# Deliberately simple, RE2/Java-compatible patterns: the operator shape
# (regexp_replace chain at scan speed) is the point; a production
# deployment swaps in its own pattern pack.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[\w.+-]+@[\w-]+\.[\w.-]+", "[EMAIL]"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    (r"\b(?:\d[ -]?){13,16}\b", "[CARD]"),
    (r"\b\+?\d{1,3}[ .-]?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b", "[PHONE]"),
]


def redact_pii(col: Column | str) -> Column:
    """Chain of regexp_replace passes over the standard PII classes.
    Pure codegen -- redaction happens at scan speed, no UDF."""
    out = _c(col)
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def corpus_stats(
    docs: DataFrame,
    group_cols: Iterable[str] = ("source", "lang"),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(source, lang) corpus report card: document count, token
    volume, mean length, and exact-duplicate ratio.

    Single groupBy; the dup ratio rides the same shuffle via
    count_distinct over md5(text) (16-byte digests move, not bodies).
    Ratios divide exact longs, so the doubles are bit-identical across
    engines.
    """
    g = list(group_cols)
    n_docs = F.count(F.lit(1))
    n_distinct = F.count_distinct(F.md5(_c(text_col)))
    total_tokens = F.sum(token_count(text_col))
    total_chars = F.sum(F.length(_c(text_col)).cast("long"))
    return docs.groupBy(*g).agg(
        n_docs.alias("n_docs"),
        total_tokens.alias("total_tokens"),
        total_chars.alias("total_chars"),
        (total_chars / n_docs).alias("mean_chars"),
        n_distinct.alias("n_distinct_texts"),
        ((n_docs - n_distinct) / n_docs).alias("dup_ratio"),
    )


def dedup_lines(
    docs: DataFrame,
    max_occurrences: int = 1,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style line-level corpus dedup: split every document into
    lines, count each distinct line corpus-wide, and drop every
    occurrence of a line seen more than `max_occurrences` times EXCEPT
    its canonical first occurrence (minimum (doc id, line number)).
    Documents are reassembled from the surviving lines in original
    order.  This removes cross-document boilerplate (cookie banners,
    nav bars, license headers) while keeping one copy in the corpus.

    Scale shape: lines explode narrow off the scan; the global line
    count is ONE keyed aggregate with map-side combine (shuffle volume
    = distinct lines).  Only lines over the threshold -- the
    heavy-hitter set, tiny by definition at any threshold worth
    running -- survive the aggregate, and they join back BROADCAST, so
    the corpus itself is never shuffled for the verdict.  Reassembly is
    a second keyed aggregate on doc id.  Blank documents contribute no
    lines and pass through unchanged.
    """
    did, txt = _c(id_col), _c(text_col)
    lines_arr = F.when(
        F.length(F.trim(txt)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(txt, sep))
    base = docs.select(
        did.alias("_did"), lines_arr.alias("_lines"), F.size(lines_arr).alias("n_lines")
    )
    # posexplode_OUTER, deliberately (the _shingle_table rule): a plain
    # posexplode lets InferFiltersFromGenerate derive `size(_lines) > 0`
    # and push the caller's ENTIRE text-synthesis expression below its
    # exchanges onto the (often single-partition) scan, where it runs
    # serially -- measured 18.5s vs ~2.5s for llm_line_dedup at sf0.1.
    # Blank docs yield one null-line row, excluded from every aggregate
    # below by null-aware counting.
    occ = base.select(
        "_did", F.posexplode_outer("_lines").alias("_lno", "_line")
    )
    heavy = (
        occ.groupBy("_line")
        .agg(
            F.count("*").alias("_cnt"),
            F.min(F.struct("_did", "_lno")).alias("_first"),
        )
        .filter(F.col("_cnt") > max_occurrences)
    )
    survives = F.col("_cnt").isNull() | (
        (F.col("_first._did") == F.col("_did"))
        & (F.col("_first._lno") == F.col("_lno"))
    )
    # verdict + reassembly in ONE aggregate over the occurrence rows:
    # collect_list skips nulls, so non-surviving lines vanish from the
    # rebuilt text while still counting toward n_lines -- one corpus
    # pass instead of a filter->aggregate->join-back second scan.
    real = F.col("_line").isNotNull()
    rebuilt = (
        occ.join(F.broadcast(heavy), "_line", "left")
        .groupBy("_did")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(survives & real, F.struct("_lno", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
                sep,
            ).alias("_text"),
            F.count("_line").alias("_n_lines"),
            F.sum(F.when(real & ~survives, 1).otherwise(0)).alias("_dropped"),
        )
    )
    # only documents with zero lines (blank text) are absent from the
    # aggregate; restore them from the id spine
    return (
        base.select("_did")
        .join(rebuilt, "_did", "left")
        .select(
            F.col("_did").alias(id_col),
            F.coalesce("_text", F.lit("")).alias(text_col),
            F.coalesce("_n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


def importance_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    ppm_per_unit: int,
    mix_a: int = 2654435761,
    mix_b: int = 12345,
) -> DataFrame:
    """Deterministic weight-proportional Bernoulli sampling: keep a row
    iff mix(key) mod 1e6 < min(1e6, weight * ppm_per_unit), i.e. with
    probability proportional to its weight (capped at 1).  The mixer is
    an affine congruential scramble in exact int64 arithmetic (key is
    masked to 31 bits first so the product can never overflow, even
    under ANSI), so membership is a pure function of the key --
    reproducible across reruns, partitionings, and engines, the
    property quality-weighted corpus downsampling needs for resumable
    100 TB runs.  Narrow (filter only): no shuffle, no RNG, no driver
    state.
    """
    key = _c(key_col).cast("long")
    u = F.pmod(F.pmod(key, F.lit(2147483648)) * F.lit(mix_a) + F.lit(mix_b), F.lit(1000000))
    thresh = F.least(F.lit(1000000).cast("long"), _c(weight_col).cast("long") * ppm_per_unit)
    return df.filter(u < thresh)


def shuffle_index(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "0",
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global training-order shuffle: assign each row its
    0-based position in a pseudorandom-but-reproducible permutation of
    the corpus (the "shuffle the data before training" step, made
    engine-independent and resumable).

    Order key = md5(key || '|' || seed) -- a keyed pseudorandom total
    order both Spark and DuckDB can compute, so the assignment is
    exactly oracle-checkable.  The global index is computed WITHOUT a
    single-partition window: the first 2 hex chars of the digest form
    256 order-preserving range buckets; per-bucket counts (256 rows)
    become cumulative offsets via a tiny window, broadcast back, and
    position = bucket_offset + row_number within the bucket.  Shuffle
    cost: one exchange on the bucket column (the in-bucket sort rides
    it) + a 256-row side frame -- the classic scalable zipWithIndex.
    """
    from pyspark.sql.window import Window

    ok = F.md5(F.concat_ws("|", _c(key_col).cast("string"), F.lit(seed)))
    bkt = F.conv(F.substring(ok, 1, 2), 16, 10).cast("int")
    base = df.withColumn("__ok", ok).withColumn("__b", bkt)
    counts = base.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__b", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).cast("long").alias("__off")
    )
    w_in = Window.partitionBy("__b").orderBy("__ok", _c(key_col))
    return (
        base.join(F.broadcast(offsets), "__b")
        .withColumn(out_col, (F.col("__off") + F.row_number().over(w_in) - F.lit(1)).cast("long"))
        .drop("__ok", "__b", "__off")
    )


def weighted_sample_topk(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int,
    seed: str = "0",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: per group,
    the k rows with the highest Efraimidis-Spirakis priority u^(1/w),
    where u is a keyed md5-derived uniform -- inclusion probability is
    proportional to weight, membership is a pure function of
    (key, seed), and no RNG or driver state exists anywhere.

    Both engines can compute the identical priority (md5 -> 52-bit
    uniform -> pow), so unlike classical weighted reservoirs this is
    exactly oracle-checkable and resumable: re-running on a grown
    corpus re-selects consistently rather than reshuffling history.
    One window pass per group; rows with non-positive weight are
    excluded (their priority is undefined).
    """
    from pyspark.sql import Window

    ok = F.md5(F.concat_ws("|", _c(key_col).cast("string"), F.lit(seed)))
    v = F.conv(F.substring(ok, 1, 13), 16, 10).cast("double")
    u = (v + F.lit(0.5)) / F.lit(float(1 << 52))
    pr = F.pow(u, F.lit(1.0) / _c(weight_col).cast("double"))
    w = Window.partitionBy(group_col).orderBy(F.desc("__pr"), _c(key_col))
    return (
        df.filter(_c(weight_col) > 0)
        .withColumn("__pr", pr)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__pr", "__rk")
    )


def curriculum_shards(
    scored: DataFrame,
    score_col: str = "score",
    id_col: str = "doc_id",
    n_shards: int = 4,
    score_min: float = 0.0,
    score_max: float = 1.0,
    n_buckets: int = 256,
) -> DataFrame:
    """Curriculum ordering: rank the corpus easiest-first (score DESC,
    id ASC) and split the ranking into `n_shards` contiguous shards --
    shard 0 is the highest-quality slice, the training loader walks
    shards in order.

    The global rank is computed WITHOUT a single-partition sort, by the
    same two-phase trick as shuffle_index: scores quantize into
    `n_buckets` order-preserving range buckets (descending), per-bucket
    counts fold into cumulative offsets (a tiny n_buckets-row frame,
    broadcast back), and rank = offset + row_number within the bucket.
    One exchange on the bucket key; the in-bucket sort rides it.  The
    shard cut is integer arithmetic (rank * n_shards div n) on a
    one-row count broadcast -- exact on both engines, no doubles.

    Caveat at scale: fixed-width score buckets inherit the score
    distribution's skew (margins cluster near 0); a production refit
    would pick bucket edges from approx quantiles.  The within-bucket
    tie-break on `id_col` keeps the order total and deterministic.
    """
    from pyspark.sql.window import Window

    s = F.col(score_col).cast("double")
    span = float(score_max) - float(score_min)
    # descending buckets: highest score -> bucket 0
    raw = F.floor((F.lit(float(score_max)) - s) / F.lit(span) * n_buckets)
    bkt = F.greatest(F.lit(0), F.least(F.lit(int(n_buckets) - 1), raw)).cast("int")
    base = scored.withColumn("__b", bkt)
    counts = base.groupBy("__b").agg(F.count(F.lit(1)).alias("__n_b"))
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__b",
        F.coalesce(F.sum("__n_b").over(w_off), F.lit(0)).cast("long").alias("__off"),
    )
    total = scored.agg(F.count(F.lit(1)).alias("__n"))
    w_in = Window.partitionBy("__b").orderBy(s.desc(), F.col(id_col).asc())
    ranked = (
        base.join(F.broadcast(offsets), "__b")
        .withColumn(
            "rank", (F.col("__off") + F.row_number().over(w_in) - F.lit(1)).cast("long")
        )
        .crossJoin(F.broadcast(total))
    )
    return ranked.select(
        F.col(id_col),
        s.alias(score_col),
        "rank",
        F.expr(f"CAST((rank * {int(n_shards)}) DIV __n AS INT)").alias("shard"),
    )


def mixture_apply(
    docs: DataFrame,
    group_col: str = "source",
    target_frac: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a temperature-scaled training mix (alpha = 0.5):
    each source g is downsampled at the per-mille rate that makes its
    KEPT share proportional to sqrt(n_g) while the overall kept volume
    targets `target_frac` of the corpus.  Small sources are upweighted
    (kept nearly whole), dominant sources are cut -- the standard
    multi-source mix, actually applied rather than just reported
    (mixture_weights is the report tier).

    Determinism discipline: the keep rule is integer (md5-bucket mod 1000 <
    rate_pm), and the rate computation avoids every cross-engine FP
    trap -- sqrt is IEEE-correctly-rounded (pow is not), the sqrt terms
    are rounded to 6 digits and summed as DECIMAL (order-free), and the
    final rate is floor() over exact double products.  Resumable and
    identical on any engine or partitioning.

    One groupBy + a one-row broadcast; the keep filter is a scan-side
    projection, so applying the mix to 100 TB costs one pass.
    """
    per = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    per = per.withColumn(
        "__s", F.round(F.sqrt(F.col("n_docs").cast("double")), 6).cast("decimal(28,6)")
    )
    tot = per.agg(
        F.sum("n_docs").alias("__total"),
        F.sum("__s").cast("decimal(38,6)").alias("__ssum"),
    )
    rates = per.join(F.broadcast(tot)).select(
        group_col,
        "n_docs",
        F.least(
            F.lit(1000),
            F.floor(
                F.lit(1000.0)
                * F.lit(float(target_frac))
                * F.col("__total").cast("double")
                * F.col("__s").cast("double")
                / (F.col("__ssum").cast("double") * F.col("n_docs").cast("double"))
            ),
        )
        .cast("int")
        .alias("rate_pm"),
    )
    # md5-derived bucket, not raw id mod: block-allocated / small-range
    # ids are not uniform mod 1000, and the digest rule is the same on
    # both engines (the shuffle_index / weighted_sample discipline)
    bucket = (
        F.conv(F.substring(F.md5(_c(id_col).cast("string")), 1, 13), 16, 10)
        .cast("long")
        % 1000
    )
    return (
        docs.join(F.broadcast(rates.select(group_col, "rate_pm")), group_col)
        .filter(bucket < F.col("rate_pm"))
        .select(_c(id_col).alias(id_col), F.col(group_col), F.col("rate_pm"))
    )


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document boilerplate catalog (the C4 'repeated span'
    signal): word n-grams appearing in >= min_docs DISTINCT documents,
    with their document frequency.  Template headers, navigation
    chrome, license blurbs, and cookie banners all surface here; the
    catalog drives span stripping or doc down-weighting.

    Scale shape: one corpus scan -> distinct grams per doc (the
    word_shingles array is already distinct) -> explode -> ONE
    count-distinct aggregation on the gram key (map-side partial
    count).  The shuffle carries (gram, doc_id) pairs -- bounded by
    total distinct-gram occurrences, never raw text beyond the n-gram
    itself; gram-frequency skew is AQE's standard case.
    """
    doc_grams = _ensure_parallelism(docs).select(
        F.col(id_col), F.explode_outer(word_shingles(text_col, n)).alias("gram")
    ).filter(F.col("gram").isNotNull())
    return (
        doc_grams.groupBy("gram")
        .agg(
            F.count_distinct(F.col(id_col)).cast("long").alias("n_docs"),
            F.min(F.col(id_col)).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= int(min_docs))
    )


def boilerplate_fraction(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document boilerplate load: the fraction of each doc's
    distinct n-grams that are corpus boilerplate (boilerplate_ngrams
    at the same n / min_docs).  High fractions mark template pages
    worth dropping wholesale; moderate ones mark spans to strip.

    ONE corpus scan, ONE text explode: the exploded gram table is
    hash-repartitioned on the gram key up front, so (a) the catalog
    aggregation needs no further exchange (its clustering is already
    satisfied), (b) the doc<->catalog join co-locates on the same
    partitioning with a ReusedExchange for the gram side instead of a
    second scan+explode, and (c) the catalog is never broadcast -- at
    100 TB the set of frequent grams can be GBs, which would OOM a
    broadcast but is a perfectly ordinary shuffle-side build.  The
    only later exchange carries (id, two counters).
    Output: (id, n_grams, n_boiler, boiler_frac).
    """
    doc_grams = (
        _ensure_parallelism(docs)
        .select(
            F.col(id_col), F.explode_outer(word_shingles(text_col, n)).alias("gram")
        )
        .filter(F.col("gram").isNotNull())
        .repartition(F.col("gram"))
    )
    catalog = (
        doc_grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
        .select("gram", F.lit(1).alias("__boiler"))
    )
    return (
        doc_grams.join(catalog, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("__boiler"), F.lit(0))).cast("long").alias("n_boiler"),
        )
        .select(
            id_col,
            "n_grams",
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_grams"), 6).alias("boiler_frac"),
        )
    )


def span_corruption(
    docs: DataFrame,
    mask_frac: float = 0.15,
    span_len: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """T5-style span-corruption plan: for each document, deterministic
    non-overlapping token spans covering ~mask_frac of the tokens, each
    span_len tokens long -- the (start, length, span_text) triples a
    denoising-objective data loader masks with sentinels.

    Deterministic by construction (trainable-data discipline: the same
    corpus snapshot must yield the same masks on every run/engine):
    the token stream is split into one segment per target span and the
    span lands at a Knuth-hash-chosen offset inside its segment --
    non-overlapping without any rejection sampling, one codegen
    projection + explode, no UDF, no shuffle.  Docs too short for one
    span emit no rows.  Output: (id, span_id, start, length,
    span_text); `start` is 1-based in the normalized token stream.
    """
    from .dedup import normalize_text
    from .text import tokens

    toks = tokens(normalize_text(F.col(text_col)))
    n_spans = F.floor(
        F.size(toks) * F.lit(float(mask_frac)) / F.lit(int(span_len))
    ).cast("int")
    base = (
        docs.select(F.col(id_col), toks.alias("__toks"), n_spans.alias("__ns"))
        .filter(F.col("__ns") >= 1)
        .select(
            id_col,
            "__toks",
            "__ns",
            F.explode(F.sequence(F.lit(0), F.col("__ns") - 1)).alias("span_id"),
        )
    )
    seg = F.floor(F.size(F.col("__toks")) / F.col("__ns")).cast("int")
    slot = F.greatest(F.lit(1), seg - F.lit(int(span_len)) + F.lit(1))
    i = F.col("span_id")
    h = (
        F.pmod(F.col(id_col).cast("long") * F.lit(131) + i, F.lit(2147483648))
        * F.lit(2654435761)
        + F.lit(12345)
    ) % F.lit(1000000007)
    start = (i * seg + F.pmod(h, slot) + F.lit(1)).cast("int")
    return base.select(
        id_col,
        F.col("span_id").cast("int").alias("span_id"),
        start.alias("start"),
        F.lit(int(span_len)).cast("int").alias("length"),
        F.concat_ws(" ", F.slice(F.col("__toks"), start, int(span_len))).alias("span_text"),
    )


def fim_transform(
    docs: DataFrame,
    fim_rate: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fill-in-the-middle (FIM) transform, the code-LLM pretraining prep
    of Bavarian et al. 2022: a deterministic fraction of documents is
    rewritten prefix/suffix/middle as
    ``<PRE>prefix<SUF>suffix<MID>middle`` (PSM order) so the model
    learns infilling; the rest pass through unchanged.

    Deterministic by construction like span_corruption: selection and
    the two character split points come from Knuth multiplicative
    hashes of the doc id, so every run/engine produces the same splits
    (trainable-data discipline -- a resumed job must not re-randomize).
    The sentinel tags are literal strings here; a real tokenizer maps
    them to reserved special-token ids downstream.

    Output: (id, fim_applied, split_1, split_2, psm) over the
    NORMALIZED text.  One codegen projection -- no UDF, no shuffle, no
    explode; at 100 TB this is a pure map stage pipelined into
    whatever sink follows.
    """
    from .dedup import normalize_text

    def knuth(salt: int):
        return (
            F.pmod(
                F.col(id_col).cast("long") * F.lit(131) + F.lit(salt),
                F.lit(2147483648),
            )
            * F.lit(2654435761)
            + F.lit(12345)
        ) % F.lit(1000000007)

    s = normalize_text(F.col(text_col))
    ln = F.length(s)
    applied = F.pmod(knuth(0), F.lit(1000)) < F.lit(int(float(fim_rate) * 1000))
    a = F.pmod(knuth(1), ln + 1)
    b = F.pmod(knuth(2), ln + 1)
    s1 = F.least(a, b)
    s2 = F.greatest(a, b)
    psm = F.when(
        applied,
        F.concat(
            F.lit("<PRE>"),
            s.substr(F.lit(1), s1),
            F.lit("<SUF>"),
            s.substr(s2 + 1, ln - s2),
            F.lit("<MID>"),
            s.substr(s1 + 1, s2 - s1),
        ),
    ).otherwise(s)
    return docs.select(
        F.col(id_col),
        applied.alias("fim_applied"),
        F.when(applied, s1.cast("long")).alias("split_1"),
        F.when(applied, s2.cast("long")).alias("split_2"),
        psm.alias("psm"),
    )


def leakage_safe_split(
    clusters: DataFrame,
    val_pm: int = 100,
    test_pm: int = 100,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: the split is a deterministic hash of the CLUSTER id (from
    `dedup.duplicate_clusters` or any near-dup tier), so every member
    of a duplicate cluster lands in the same split.  Hashing the doc id
    instead -- the common mistake -- puts one copy of a duplicated
    passage in train and another in test, silently inflating eval.

    val_pm / test_pm are per-mille shares of CLUSTERS (not docs); the
    remainder is train.  The Knuth multiplicative hash matches the
    engine's other deterministic samplers, so membership is a pure
    function of the cluster id -- stable across runs, partitionings,
    and engines.

    Narrow projection over the clusters frame: no shuffle, no RNG.
    Output: (id, cluster_id, split)."""
    h = (
        F.pmod(
            F.col(cluster_col).cast("long") * F.lit(131) + F.lit(7),
            F.lit(2147483648),
        )
        * F.lit(2654435761)
        + F.lit(12345)
    ) % F.lit(1000000007)
    r = F.pmod(h, F.lit(1000))
    split = (
        F.when(r < int(test_pm), F.lit("test"))
        .when(r < int(test_pm) + int(val_pm), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return clusters.select(F.col(id_col), F.col(cluster_col), split.alias("split"))


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    buckets: tuple[int, ...] = (16, 32, 64, 128, 256, 512, 1024),
) -> DataFrame:
    """Token-length bucketing for padded-batch training: each document
    goes to the smallest bucket holding its whitespace-token count
    (documents longer than the last bucket are clamped there =
    truncated at collate time).  Per bucket: document count, token
    sums, truncation count, and the padding-waste fraction
    1 - kept_tokens / (n_docs * bucket) -- the number a curriculum
    uses to choose bucket boundaries (waste is GPU time at training).

    Bucket assignment is a chained CASE over the fixed boundary list
    (codegen, branch-per-boundary; a log2/pow float route would risk
    cross-engine rounding at exact powers of two), then ONE groupBy on
    a <=len(buckets)-cardinality key with map-side combine -- the
    aggregate output is bounded by the bucket list, not the corpus.
    Integer sums + one final division keep the fraction bit-stable.

    Output: (bucket, n_docs, sum_tokens, kept_tokens, n_truncated,
    pad_frac), bucket ascending.
    """
    from .text import token_count

    bs = sorted(int(x) for x in buckets)
    n = token_count(text_col)
    b = F.when(n <= bs[0], F.lit(bs[0]))
    for edge in bs[1:-1]:
        b = b.when(n <= edge, F.lit(edge))
    b = b.otherwise(F.lit(bs[-1]))
    kept = F.least(n, F.lit(bs[-1]).cast("long"))
    return (
        df.select(
            b.cast("long").alias("bucket"),
            n.alias("__n"),
            kept.alias("__kept"),
            (n > bs[-1]).cast("long").alias("__trunc"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n").alias("sum_tokens"),
            F.sum("__kept").alias("kept_tokens"),
            F.sum("__trunc").alias("n_truncated"),
        )
        .withColumn(
            "pad_frac",
            F.round(
                F.lit(1.0) - F.col("kept_tokens") / (F.col("n_docs") * F.col("bucket")),
                6,
            ),
        )
        .orderBy("bucket")
    )
