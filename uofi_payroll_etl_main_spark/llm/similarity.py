"""Similarity search over embedding columns (array<float>).

Two tiers:
  cosine_topk        -- exact brute-force top-k.  O(n*m) pair space via a
                        similarity join; the CORRECTNESS baseline and the
                        right answer when one side is small (a query
                        batch against the corpus).  Never run corpus x
                        corpus at 100 TB.
  lsh_topk           -- random-hyperplane LSH (sign of dot with fixed
                        seeded planes), L tables of nbits each; pairs
                        meet only inside a (table, bucket) shuffle key.
                        Sub-quadratic scale path; recall tested against
                        the exact tier.

Dot products are F.aggregate over zip_with -- sequential, deterministic
summation (important: a parallel sum would make scores run-dependent in
the last ulp and break result reproducibility).  Scores are rounded to
ROUND_DIGITS before ranking so rank order is stable across engines.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine_topk",
    "lsh_topk",
    "embed_dup_pairs",
    "embed_dup_lsh",
    "ivf_topk",
    "cosine_topk_vectorized",
    "quantize_embeddings",
    "cosine_topk_quantized",
    "hard_negatives",
    "hard_negatives_lsh",
    "anchor_positives_lsh",
    "negative_pairs",
    "rrf_fuse",
    "mmr_topk",
    "kmeans_int", "semantic_dedup_int", "ann_pq_int",
]

ROUND_DIGITS = 6


def dot(a: Column, b: Column) -> Column:
    """Deterministic sequential dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    corpus: DataFrame,
    k: int = 5,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k most similar
    corpus vectors (self-matches excluded).

    queries=None means corpus-as-queries (all-pairs -- small-corpus /
    validation use only).  With a real query batch, broadcast the small
    side so the corpus never shuffles.
    """
    q = (queries if queries is not None else corpus).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    if queries is not None:
        # explicit query batch = the small side; broadcast it so the
        # corpus never shuffles and the plan is BNLJ, not a cartesian
        q = F.broadcast(q)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    pairs = q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    sim = F.round(
        dot(F.col("__qv"), F.col("__cv")) / (l2_norm(F.col("__qv")) * l2_norm(F.col("__cv"))),
        ROUND_DIGITS,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("similarity", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def _planes(num_tables: int, nbits: int, dim: int, seed: int = 42) -> np.ndarray:
    """Fixed seeded Gaussian hyperplanes -- deterministic across runs and
    executors (shipped as plan literals, ~tables*nbits*dim doubles)."""
    rng = np.random.RandomState(seed)
    return rng.randn(num_tables, nbits, dim)


def _bucket_expr(vec: Column, planes: np.ndarray) -> Column:
    """Bucket id = sign-bit string of dots with each plane."""
    nbits, dim = planes.shape
    bits = []
    for j in range(nbits):
        plane = F.array(*[F.lit(float(v)) for v in planes[j]])
        bits.append(
            F.when(dot(vec, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def _norm_rows(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _mmr_scores_decimal(
    lam: float, rel: np.ndarray, max_red: np.ndarray
) -> np.ndarray:
    """MMR step scores in EXACT decimal arithmetic: rel and max_red are
    6-decimal values (round-6 cosines), so lam*rel - (1-lam)*max_red is
    exact at <= 7+len(lam) decimals; quantize HALF_UP to 6.  Doubles
    would put the score on a decimal .5 boundary ~half the time (a
    product of a 6-decimal value by 0.7 ends in 5 whenever the last
    digit is odd), where engines' round() semantics diverge (numpy:
    binary banker's; Spark SQL: shortest-repr HALF_UP; DuckDB double:
    binary half-away) -- decimal arithmetic sidesteps all of that and
    matches a DECIMAL-typed oracle digit-for-digit.  Pool-bounded
    arrays only: this is a Python loop."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.000001")
    lam_d = Decimal(repr(float(lam)))
    inv_d = Decimal(1) - lam_d
    out = np.empty(len(rel), dtype=np.float64)
    for i in range(len(rel)):
        s = lam_d * Decimal(repr(float(rel[i])))
        mr = float(max_red[i])
        if np.isfinite(mr):
            s -= inv_d * Decimal(repr(mr))
        out[i] = float(s.quantize(q, rounding=ROUND_HALF_UP))
    return out


def _id_sql_type(df: DataFrame, id_col: str) -> str:
    """SQL type name for the id column in mapInPandas output schemas --
    long for integral ids, string otherwise (ids pass through either
    way; only the Arrow schema needs to know)."""
    from pyspark.sql import types as T

    dt = df.schema[id_col].dataType
    return "long" if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)) else "string"


def _topk_tiebroken(sims: np.ndarray, ids: np.ndarray, take: int):
    """Per-row top-`take` column indexes under the GLOBAL ranking rule
    (similarity DESC, id ASC).  np.argpartition alone breaks ties
    arbitrarily, which can drop the lowest-id member of a tie group at a
    batch boundary and diverge from the exact ranking."""
    order = np.lexsort((ids[None, :].repeat(sims.shape[0], axis=0), -sims), axis=1)
    return order[:, :take]


def _bucket_table(
    df: DataFrame,
    planes: np.ndarray,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """Vectorized (table, bucket) assignment: one NumPy sign-bit matmul
    per Arrow batch against all tables' planes at once.  The per-row
    Catalyst form (_bucket_expr) evaluates tables*nbits aggregate-lambda
    dot products per row -- orders of magnitude slower on wide vectors.

    Output: one row per (vector, table) with the vector carried along,
    ready to shuffle on the (table, bucket) key.  With `label_col`, the
    label rides alongside as `lab` so label-aware miners can block or
    mask inside each bucket without a join back to the source.
    """
    import pandas as pd

    num_tables, nbits, dim = planes.shape
    flat = planes.reshape(num_tables * nbits, dim)
    weights = (1 << np.arange(nbits)).astype(np.int64)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (cm @ flat.T) >= 0  # (n, tables*nbits)
            frames = []
            for t in range(num_tables):
                bucket = bits[:, t * nbits : (t + 1) * nbits] @ weights
                cols = {"vid": pdf[id_col]}
                if label_col is not None:
                    cols["lab"] = pdf[label_col]
                cols.update(
                    {
                        "table": np.full(len(pdf), t, dtype=np.int32),
                        "bucket": bucket,
                        "vec": pdf[vec_col],
                    }
                )
                frames.append(pd.DataFrame(cols))
            yield pd.concat(frames)

    lab_part = (
        f" lab {_id_sql_type(df, label_col)}," if label_col is not None else ""
    )
    return df.mapInPandas(
        assign,
        schema=(
            f"vid {_id_sql_type(df, id_col)},{lab_part} table int, "
            "bucket long, vec array<float>"
        ),
    )


def lsh_topk(
    corpus: DataFrame,
    k: int = 5,
    num_tables: int = 4,
    nbits: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN cosine top-k via random-hyperplane LSH.

    Each vector lands in `num_tables` buckets; candidates are pairs
    sharing a (table, bucket); exact cosine re-ranks within candidates.
    Shuffle key is (table, bucket) -- never an all-pairs product.  Tune
    recall with num_tables (more tables = more recall, linear cost) and
    nbits (fewer bits = bigger buckets = more recall, more compare work).
    """
    import pandas as pd

    dim = len(corpus.select(vec_col).first()[0])
    planes = _planes(num_tables, nbits, dim, seed)
    bucketed = _bucket_table(corpus, planes, id_col, vec_col)

    id_t = _id_sql_type(corpus, id_col)
    empty_t = "int64" if id_t == "long" else "object"

    def bucket_topk(key, pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "similarity": []}).astype(
                {"query_id": empty_t, "neighbor_id": empty_t, "similarity": "float64"}
            )
        cm = _norm_rows(np.array(list(pdf["vec"]), dtype=np.float64))
        sims = np.round(cm @ cm.T, ROUND_DIGITS)
        ids = pdf["vid"].to_numpy()
        np.fill_diagonal(sims, -np.inf)
        take = min(k, n - 1)
        idx = _topk_tiebroken(sims, ids, take)
        qi = np.repeat(np.arange(n), take)
        ci = idx.ravel()
        return pd.DataFrame(
            {"query_id": ids[qi], "neighbor_id": ids[ci], "similarity": sims[qi, ci]}
        )

    cand = bucketed.groupBy("table", "bucket").applyInPandas(
        bucket_topk, schema=f"query_id {id_t}, neighbor_id {id_t}, similarity double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        cand.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def embed_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT: all (a < b) with
    cosine >= threshold.

    O(n^2) pair space -- the correctness baseline / small-corpus tier
    (same role as jaccard_pairs in the text-dedup family).  At scale use
    embed_dup_lsh, which meets pairs only inside hyperplane buckets.
    """
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    sim = F.round(
        dot(F.col("__va"), F.col("__vb")) / (l2_norm(F.col("__va")) * l2_norm(F.col("__vb"))),
        ROUND_DIGITS,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embed_dup_lsh(
    corpus: DataFrame,
    threshold: float = 0.9,
    num_tables: int = 8,
    nbits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed scale path.

    Candidates meet only inside a (table, bucket) group; within a group
    the pairwise cosine block is one NumPy matmul, so every emitted pair
    is already exactly verified (precision 1, recall bounded by the
    bucket collision probability: a pair at cosine c collides in one
    table with prob (1 - acos(c)/pi)^nbits).
    """
    import pandas as pd

    dim = len(corpus.select(vec_col).first()[0])
    planes = _planes(num_tables, nbits, dim, seed)
    bucketed = _bucket_table(corpus, planes, id_col, vec_col)

    id_t = _id_sql_type(corpus, id_col)
    empty_t = "int64" if id_t == "long" else "object"

    def bucket_pairs(key, pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": empty_t, "id_b": empty_t, "cosine": "float64"}
            )
        cm = _norm_rows(np.array(list(pdf["vec"]), dtype=np.float64))
        sims = np.round(cm @ cm.T, ROUND_DIGITS)
        ids = pdf["vid"].to_numpy()
        ia, ib = np.nonzero(sims >= threshold)
        keep = ids[ia] < ids[ib]
        return pd.DataFrame(
            {"id_a": ids[ia][keep], "id_b": ids[ib][keep], "cosine": sims[ia, ib][keep]}
        )

    return (
        bucketed.groupBy("table", "bucket")
        .applyInPandas(bucket_pairs, schema=f"id_a {id_t}, id_b {id_t}, cosine double")
        .dropDuplicates(["id_a", "id_b"])
    )


def _centroid_array(rows: list, vec_col: str) -> list:
    return [[float(x) for x in r[vec_col]] for r in rows]


def ivf_topk(
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: str = "sample",
    kmeans_iter: int = 3,
) -> DataFrame:
    """ANN cosine top-k via IVF-Flat: coarse-quantize the corpus to its
    nearest centroid, probe the `n_probe` nearest centroid cells per
    query, exact-re-rank inside the probed cells.

    centroids="sample" (default): a deterministic md5-ordered sample
    of corpus vectors -- no extra corpus pass; on roughly balanced data
    sampled centroids land in every cluster w.h.p.  The md5 ordering,
    ROUND_DIGITS-rounded assignment scores, and cell-index tie-breaks
    make THIS mode fully DuckDB-derivable, so the llm_ann_ivf gate
    value-checks it end-to-end.  centroids="kmeans":
    `kmeans_iter` Lloyd iterations (kmeans_assign -- distributed; the
    driver only ever sees k*dim cells per iteration) refine that
    placement, which matters on SKEWED corpora where hash sampling
    starves small clusters of centroids and their queries then probe
    only far-away cells.  That trade (recall on skew vs n_iter extra
    corpus passes) is the standard FAISS train-vs-sample choice;
    pytest asserts the recall improvement on a skewed corpus.

    The shuffle key is the centroid id; each cell meets its probing
    queries in a cogroup, where the scoring block is one NumPy matmul
    -- the classic FAISS IVF layout on Arrow.  Beats hyperplane LSH
    when neighbors sit at moderate cosine (collision-probability decay
    makes sign-LSH recall collapse below ~0.6 cosine); probing cells
    degrades gracefully instead.
    """
    import pandas as pd

    if centroids == "kmeans":
        _, cents = kmeans_assign(
            corpus, k=n_centroids, n_iter=kmeans_iter, id_col=id_col, vec_col=vec_col
        )
        cn = _norm_rows(cents)
    elif centroids == "sample":
        cent_rows = (
            corpus.select(id_col, vec_col)
            .orderBy(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"), F.lit(f":{int(seed)}")
                    )
                )
            )
            .limit(n_centroids)
            .collect()
        )
        cn = _norm_rows(np.array(_centroid_array(cent_rows, vec_col), dtype=np.float64))
    else:
        raise ValueError(f"centroids must be 'sample' or 'kmeans', got {centroids!r}")

    def assign_cells(n_out: int):
        """mapInPandas fn: one matmul against all centroids per batch;
        emit (vid, cell, pri, vec) for the n_out nearest cells, pri
        marking the single nearest (the vector's ASSIGNED cell)."""

        def fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                cm = _norm_rows(np.array(list(pdf["vec"]), dtype=np.float64))
                # round BEFORE ranking and tie-break by cell index: the
                # rounded score + index rule is engine-reproducible (the
                # oracle re-derives it in SQL), where raw-ULP argsort ties
                # would be arbitrary
                scores = np.round(cm @ cn.T, ROUND_DIGITS)  # (n, n_centroids)
                take = min(n_out, scores.shape[1])
                cell_idx = np.arange(scores.shape[1])[None, :].repeat(len(pdf), 0)
                order = np.lexsort((cell_idx, -scores), axis=1)[:, :take]
                qi = np.repeat(np.arange(len(pdf)), take)
                yield pd.DataFrame(
                    {
                        "vid": pdf["vid"].to_numpy()[qi],
                        "cell": order.ravel().astype("int32"),
                        "pri": np.tile(np.arange(take) == 0, len(pdf)),
                        "vec": pdf["vec"].to_numpy()[qi],
                    }
                )

        return fn

    ids = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    id_t = _id_sql_type(corpus, id_col)
    empty_t = "int64" if id_t == "long" else "object"
    # ONE corpus pass serves both IVF roles: a vector's assigned cell
    # (old assign_cells(1)) is by construction the FIRST of its n_probe
    # probe rows (same lexsort, same rounding), so the probe frame with
    # a primary flag carries the member list too.  The previous shape
    # ran two scans + two Python passes + a two-sided cogroup shuffle;
    # this is one scan, one pass, and one exchange of the same probe
    # rows (the n member rows no longer ship separately at all).
    probes = ids.mapInPandas(
        assign_cells(n_probe),
        schema=f"vid {id_t}, cell int, pri boolean, vec array<float>",
    )

    def cell_topk(key, pdf):
        probe_pdf, cell_pdf = pdf, pdf[pdf["pri"]]
        if not len(probe_pdf) or not len(cell_pdf):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "similarity": []}).astype(
                {"query_id": empty_t, "neighbor_id": empty_t, "similarity": "float64"}
            )
        qm = _norm_rows(np.array(list(probe_pdf["vec"]), dtype=np.float64))
        cm = _norm_rows(np.array(list(cell_pdf["vec"]), dtype=np.float64))
        sims = np.round(qm @ cm.T, ROUND_DIGITS)  # (n_q, n_cell)
        q_ids = probe_pdf["vid"].to_numpy()
        c_ids = cell_pdf["vid"].to_numpy()
        take = min(k + 1, sims.shape[1])  # +1 absorbs the self-match
        idx = _topk_tiebroken(sims, c_ids, take)
        qi = np.repeat(np.arange(sims.shape[0]), take)
        ci = idx.ravel()
        out = pd.DataFrame(
            {"query_id": q_ids[qi], "neighbor_id": c_ids[ci], "similarity": sims[qi, ci]}
        )
        return out[out.query_id != out.neighbor_id]

    cand = probes.groupBy("cell").applyInPandas(
        cell_topk, schema=f"query_id {id_t}, neighbor_id {id_t}, similarity double"
    )
    from pyspark.sql import Window

    # no pair dedup needed (unlike the multi-table LSH tiers): each
    # corpus vector is assigned to exactly ONE cell (pri marks only
    # the lexsort-first), so a (query, neighbor) pair meets in at most
    # one cell group -- a
    # dropDuplicates here would shuffle the whole candidate table for
    # nothing (candidates are corpus x k scale at 100 TB)
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def query_hash_slice(col, n_slices: int):
    """Deterministic DuckDB-replicable slice id in [0, n_slices): Knuth
    multiplicative hash over the id (same recipe as a16_group_sample).
    Oracle-side SQL: ``((id % 2147483648) * 2654435761 + 12345)
    % 1000000007 % n``."""
    h = (F.pmod(col.cast("long"), F.lit(2147483648)) * F.lit(2654435761) + F.lit(12345)) % F.lit(
        1000000007
    )
    return F.pmod(h, F.lit(n_slices))


def cosine_topk_vectorized(
    corpus: DataFrame,
    k: int = 5,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_slice: tuple[int, int] | None = None,
    max_query_rows: int = 200_000,
) -> DataFrame:
    """Exact cosine top-k on the Arrow fast path: the (small) query
    matrix ships to executors in the UDF closure; each corpus batch is
    one NumPy matmul; batch-local top-k keeps the shuffle at
    O(queries * k * n_batches) rows instead of O(n * m) pairs.

    Same contract and ranking rule as cosine_topk (similarity rounded to
    ROUND_DIGITS, ties by neighbor_id) -- this is the throughput tier,
    cosine_topk the pure-Catalyst reference.

    Scale contract: the QUERY side is collected to the driver, so it
    must be bounded.  Two guards enforce that:
      * `query_slice=(i, n)` restricts the query batch to deterministic
        hash slice i of n (queries=None slices the corpus itself) --
        the corpus-vs-corpus path at scale is n bounded jobs, one per
        slice, never one unbounded collect;
      * `max_query_rows` hard-fails BEFORE the collect when the query
        batch is still too large -- a loud error instead of a silent
        driver OOM at 100x data.
    The corpus side streams through mapInPandas and is never collected.
    """
    import pandas as pd

    qdf = (queries if queries is not None else corpus).select(id_col, vec_col)
    if query_slice is not None:
        i, n = query_slice
        if not (0 <= i < n):
            raise ValueError(f"query_slice index {i} outside [0, {n})")
        qdf = qdf.filter(query_hash_slice(F.col(id_col), n) == i)
    n_q = qdf.count()
    if n_q > max_query_rows:
        raise ValueError(
            f"cosine_topk_vectorized query batch has {n_q} rows > max_query_rows="
            f"{max_query_rows}; pass query_slice=(i, n) or a bounded `queries` frame"
        )
    q_rows = qdf.collect()
    from pyspark.sql import types as T

    int_id = isinstance(
        corpus.schema[id_col].dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    )
    id_t = "long" if int_id else "string"
    out_schema = f"query_id {id_t}, neighbor_id {id_t}, similarity double"
    if not q_rows:
        return corpus.sparkSession.createDataFrame([], out_schema + ", rank long")
    q_ids = np.array([r[id_col] for r in q_rows])
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    self_mode = queries is None  # corpus-vs-corpus: exclude the self-match

    def topk_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = np.round(qm @ cm.T, ROUND_DIGITS)  # (n_q, batch)
            c_ids = pdf[id_col].to_numpy()
            take = min(k + 1 if self_mode else k, sims.shape[1])
            idx = _topk_tiebroken(sims, c_ids, take)
            rows = {"query_id": [], "neighbor_id": [], "similarity": []}
            for qi in range(sims.shape[0]):
                for ci in idx[qi]:
                    rows["query_id"].append(q_ids[qi])
                    rows["neighbor_id"].append(c_ids[ci])
                    rows["similarity"].append(sims[qi, ci])
            yield pd.DataFrame(rows)

    from pyspark.sql import Window

    # spread a single-split scan before the compute-bound matmul stage
    # (ensure_parallelism is up-only: a no-op at scale where the scan
    # already has many splits).  The earlier no-repartition note feared
    # per-sliver Python spin-up, but workers are reused and the r11 A/B
    # measured 1.24s -> 0.91s at sf0.1 with identical output; the only
    # cost is O(queries * k) candidate rows per extra batch into the
    # final window, which the batch-local top-k already bounds.
    from .text import ensure_parallelism

    cand = ensure_parallelism(corpus).mapInPandas(topk_batches, schema=out_schema)
    if self_mode:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def mean_embedding(
    df: DataFrame, group_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-group mean-pooled embedding (class centroid): posexplode the
    vector (narrow, xD fan-out), average per (group, dim), reassemble
    ordered by dim.

    The standard centroid/pooling primitive (class prototypes, IVF
    seeding, per-source drift monitoring).  The shuffle key is
    (group, dim) -- groups x dims cells, metadata-scale output; per-dim
    means are rounded to 6 digits for cross-engine stability.
    """
    ex = df.select(group_col, F.posexplode(vec_col).alias("dim", "v"))
    per = ex.groupBy(group_col, "dim").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("mv"),
        F.count("*").alias("cnt"),
    )
    return per.groupBy(group_col).agg(
        F.max("cnt").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mv"))), lambda s: s.mv
        ).alias("centroid"),
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    q_i = round(v_i / scale) in [-127, 127], stored as array<tinyint>.

    4x smaller than float32 across scan, shuffle, and broadcast -- the
    standard memory/bandwidth lever for embedding workloads at 100 TB
    (the IVF/LSH plans above move vectors through exchanges; int8 cuts
    that volume 4x at ~no recall cost for cosine ranking, since the
    per-vector scale cancels out of cosine entirely).

    Reconstruction error is bounded by scale/2 per component
    (round-to-nearest), asserted in tests.  Zero vectors quantize to
    zeros with scale 1.
    """
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    out = df.withColumn(scale_col, scale)
    return out.withColumn(
        out_col,
        F.transform(v, lambda x: F.round(x.cast("double") / F.col(scale_col)).cast("tinyint")),
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    k: int = 5,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors: identical
    plan shape to the exact `cosine_topk`, but every pair computation
    runs on array<tinyint> (4x less data through the join).

    Cosine is scale-invariant, so the per-vector quantization scale
    drops out -- the only error is the rounding itself.  Recall@k vs
    the exact tier is asserted in tests (rows-only at the gate: the
    rounding error makes exact SQL equality meaningless).
    """
    cq = quantize_embeddings(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("__cv")
    )
    qq = quantize_embeddings(queries or corpus, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("__qv")
    )
    pairs = qq.crossJoin(cq).filter(F.col("query_id") != F.col("neighbor_id"))
    sim = F.round(
        dot(F.col("__qv"), F.col("__cv")) / (l2_norm(F.col("__qv")) * l2_norm(F.col("__cv"))),
        ROUND_DIGITS,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("similarity", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def kmeans_assign(
    corpus: DataFrame,
    k: int = 10,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic Lloyd's k-means over an embedding column: returns
    (assignments DataFrame(id, cluster), centroids ndarray (k, dim)).

    The workhorse behind corpus bucketing (topic mixing, SemDeDup-style
    semantic dedup, IVF training).  Fully distributed per iteration:

      * assign -- one `mapInPandas` matmul per Arrow batch against the
        broadcast (k, dim) centroid block (squared-euclid argmin; ties
        to the lowest cluster id via argmin-first);
      * update -- posexplode to (cluster, dim, val), one
        (cluster, dim) groupBy; ONLY k*dim (sum, count) cells reach the
        driver, never vectors.

    Init is the k lowest-id corpus vectors (reproducible, no RNG).
    Empty clusters keep their previous centroid.  The projected corpus
    is persisted once and reused by all iterations.
    """
    import pandas as pd

    id_t = _id_sql_type(corpus, id_col)
    ids = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    ids.persist()
    try:
        init_rows = ids.orderBy("vid").limit(k).collect()
        cents = np.array(_centroid_array(init_rows, "vec"), dtype=np.float64)
        dim = cents.shape[1]
        last_cb = cents
        for _ in range(max(1, int(n_iter))):
            cb = last_cb = cents  # closure-captured; k*dim doubles, task-broadcast

            def update_fn(batches, cb=cb):
                # the centroid-sum pass needs (cluster, vec) only; the
                # vec is ALREADY in the Python worker, so emitting it
                # alongside the argmin removes the per-iteration
                # ids-join (a corpus shuffle) the old shape paid to
                # re-attach vectors to (vid, cluster) assignments
                for pdf in batches:
                    if not len(pdf):
                        continue
                    m = np.array(list(pdf["vec"]), dtype=np.float64)
                    # ||x-c||^2 argmin == (-2xc + ||c||^2) argmin
                    d = -2.0 * (m @ cb.T) + (cb * cb).sum(axis=1)[None, :]
                    yield pd.DataFrame(
                        {
                            "cluster": d.argmin(axis=1).astype("int32"),
                            "vec": pdf["vec"],
                        }
                    )

            clustered = ids.mapInPandas(
                update_fn, schema="cluster int, vec array<float>"
            )
            cells = (
                clustered
                .select("cluster", F.posexplode("vec").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(
                    F.sum(F.col("val").cast("double")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            nxt = cents.copy()
            acc = np.zeros((k, dim)), np.zeros((k, dim))
            for r in cells:
                acc[0][r["cluster"], r["pos"]] = r["s"]
                acc[1][r["cluster"], r["pos"]] = r["n"]
            live = acc[1][:, 0] > 0
            nxt[live] = acc[0][live] / acc[1][live]
            cents = nxt

        def assign_fn(batches, cb=last_cb):
            # returned assignments use the same centroids as the last
            # update pass (pre-final-update, the historical contract)
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(list(pdf["vec"]), dtype=np.float64)
                d = -2.0 * (m @ cb.T) + (cb * cb).sum(axis=1)[None, :]
                yield pd.DataFrame(
                    {"vid": pdf["vid"], "cluster": d.argmin(axis=1).astype("int32")}
                )

        out = ids.mapInPandas(assign_fn, schema=f"vid {id_t}, cluster int").select(
            F.col("vid").alias(id_col), F.col("cluster").cast("int").alias("cluster")
        )
        return out, cents
    finally:
        ids.unpersist()


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    k: int = 10,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster embeddings with k-means,
    then inside each cluster greedily keep one representative per
    semantic-duplicate group (cosine >= threshold), preferring vectors
    closest to the cluster centroid (id tiebreak).

    Returns every row tagged (id, cluster, keep, exemplar_id): dropped
    rows point at the kept member that shadowed them.

    Scale: pairwise work happens ONLY within a cluster (one
    applyInPandas group per cluster; k controls the block size, the
    knob the SemDeDup paper tunes).  Nothing quadratic crosses a
    shuffle; vectors move once, keyed by cluster id.  Greedy order
    (centroid distance, then id) is a pure function of the block, so
    reruns and the pytest NumPy replica agree exactly.
    """
    import pandas as pd

    assigned, cents = kmeans_assign(
        corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    id_t = _id_sql_type(corpus, id_col)
    tagged = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).join(assigned.withColumnRenamed(id_col, "vid"), "vid")

    def dedup_cluster(key, pdf):
        cid = int(key[0])
        m = np.array(list(pdf["vec"]), dtype=np.float64)
        ids_arr = pdf["vid"].to_numpy()
        c = cents[cid]
        d2 = ((m - c[None, :]) ** 2).sum(axis=1)
        order = np.lexsort((ids_arr, np.round(d2, ROUND_DIGITS)))
        mn = _norm_rows(m)
        kept: list[int] = []
        exemplar = {}
        for i in order:
            shadow = -1
            if kept:
                sims = np.round(mn[kept] @ mn[i], ROUND_DIGITS)
                hits = np.nonzero(sims >= threshold)[0]
                if len(hits):
                    shadow = kept[int(hits[0])]
            if shadow < 0:
                kept.append(i)
                exemplar[i] = i
            else:
                exemplar[i] = shadow
        return pd.DataFrame(
            {
                "vid": ids_arr,
                "cluster": np.full(len(pdf), cid, dtype="int32"),
                "keep": [exemplar[i] == i for i in range(len(pdf))],
                "exemplar_id": ids_arr[[exemplar[i] for i in range(len(pdf))]],
            }
        )

    out = tagged.groupBy("cluster").applyInPandas(
        dedup_cluster,
        schema=f"vid {id_t}, cluster int, keep boolean, exemplar_id {id_t}",
    )
    return out.select(
        F.col("vid").alias(id_col), "cluster", "keep", "exemplar_id"
    )


def hard_negatives(
    emb: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the k
    most cosine-similar vectors with a DIFFERENT label (the negatives a
    random sampler would almost never surface).

    Exact brute-force tier, same contract discipline as cosine_topk
    (ROUND_DIGITS rounding, neighbor-id tie-break).  At 100 TB the
    anchor side runs through the bucketed ANN paths (ivf_topk /
    lsh_topk) first and this exact scorer ranks only their candidate
    lists; the all-pairs form here is the validation baseline.
    """
    q = emb.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("anchor_label"),
    )
    c = emb.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("neg_label"),
    )
    pairs = q.crossJoin(c).filter(
        (F.col("anchor_id") != F.col("neg_id"))
        & (F.col("anchor_label") != F.col("neg_label"))
    )
    sim = F.round(
        dot(F.col("__qv"), F.col("__cv"))
        / (l2_norm(F.col("__qv")) * l2_norm(F.col("__cv"))),
        ROUND_DIGITS,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(F.desc("similarity"), F.asc("neg_id"))
    return (
        pairs.withColumn("similarity", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "anchor_label", "neg_id", "neg_label", "similarity", "rank")
    )


def negative_pairs(
    emb: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic random negative sampling (the contrastive-training
    default): each anchor draws k pseudo-random candidate ids via
    md5(anchor_id | slot) mod (max_id + 1); candidates that miss the id
    space, hit the anchor itself, or share its label yield no pair.

    Scale shape: the candidate frame carries only (anchor_id, label,
    slot, cand_id) -- no vectors -- and resolves through ONE hash
    equi-join against the id/label projection.  The id-space bound is
    a single-row aggregate broadcast (never a driver collect).  The
    training loader joins vectors back co-partitioned by id.
    """
    n1 = emb.agg((F.max(F.col(id_col)) + F.lit(1)).alias("__n"))
    cand = (
        emb.select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("anchor_label"),
        )
        .crossJoin(F.broadcast(n1))
        .select(
            "anchor_id",
            "anchor_label",
            F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("slot"),
            F.col("__n"),
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.col("slot").cast("int").alias("slot"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("anchor_id").cast("string"),
                                F.lit("|"),
                                F.col("slot").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("__n")
            ).alias("cand_id"),
        )
    )
    targets = emb.select(
        F.col(id_col).alias("neg_id"), F.col(label_col).alias("neg_label")
    )
    return (
        cand.join(targets, cand["cand_id"] == targets["neg_id"], "inner")
        .filter(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("neg_label") != F.col("anchor_label"))
        )
        .select("anchor_id", "anchor_label", "slot", "neg_id", "neg_label")
    )


def _mine_pairs_lsh(
    emb: DataFrame,
    same_label: bool,
    k: int,
    num_tables: int,
    nbits: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    seed: int,
) -> DataFrame:
    """Shared LSH-bucketed kernel behind anchor_positives_lsh /
    hard_negatives_lsh.

    Scale shape: candidates meet ONLY inside a shuffle group -- for
    positives the group key is (label, table, bucket) (label blocking
    composes with the hyperplane bucket, shrinking groups further), for
    negatives (table, bucket) with a same-label mask applied to the
    in-group similarity matrix.  Within a group one NumPy matmul scores
    the block; a final window re-ranks each anchor's candidates across
    tables.  Driver traffic: the seeded planes only (plan literals).
    Recall is bounded by bucket collision probability, pytest-checked
    against the exact tiers.
    """
    import pandas as pd

    dim = len(emb.select(vec_col).first()[0])
    planes = _planes(num_tables, nbits, dim, seed)
    bucketed = _bucket_table(emb, planes, id_col, vec_col, label_col=label_col)

    id_t = _id_sql_type(emb, id_col)
    lab_t = _id_sql_type(emb, label_col)
    empty_id = "int64" if id_t == "long" else "object"
    empty_lab = "int64" if lab_t == "long" else "object"
    out_schema = (
        f"anchor_id {id_t}, anchor_label {lab_t}, cand_id {id_t}, "
        f"cand_label {lab_t}, similarity double"
    )

    def bucket_mine(key, pdf):
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "anchor_id": pd.Series([], dtype=empty_id),
                "anchor_label": pd.Series([], dtype=empty_lab),
                "cand_id": pd.Series([], dtype=empty_id),
                "cand_label": pd.Series([], dtype=empty_lab),
                "similarity": pd.Series([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        cm = _norm_rows(np.array(list(pdf["vec"]), dtype=np.float64))
        sims = np.round(cm @ cm.T, ROUND_DIGITS)
        ids = pdf["vid"].to_numpy()
        labs = pdf["lab"].to_numpy()
        np.fill_diagonal(sims, -np.inf)
        if not same_label:
            sims[labs[:, None] == labs[None, :]] = -np.inf
        take = min(k, n - 1)
        idx = _topk_tiebroken(sims, ids, take)
        qi = np.repeat(np.arange(n), take)
        ci = idx.ravel()
        sel = sims[qi, ci]
        keep = np.isfinite(sel)
        return pd.DataFrame(
            {
                "anchor_id": ids[qi][keep],
                "anchor_label": labs[qi][keep],
                "cand_id": ids[ci][keep],
                "cand_label": labs[ci][keep],
                "similarity": sel[keep],
            }
        )

    group_keys = ["lab", "table", "bucket"] if same_label else ["table", "bucket"]
    cand = bucketed.groupBy(*group_keys).applyInPandas(bucket_mine, schema=out_schema)

    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(F.desc("similarity"), F.asc("cand_id"))
    return (
        cand.dropDuplicates(["anchor_id", "cand_id"])
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "anchor_label", "cand_id", "cand_label", "similarity", "rank")
    )


def anchor_positives_lsh(
    emb: DataFrame,
    k: int = 1,
    num_tables: int = 16,
    nbits: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    seed: int = 42,
) -> DataFrame:
    """Positive-pair mining, LSH-bucketed SCALE tier: per anchor, the k
    most cosine-similar SAME-label vectors, candidates met only inside
    (label, table, bucket) groups -- never an all-pairs product.  The
    exact crossJoin tier (registry llm_anchor_positives) is the recall
    baseline; pytest asserts recall against it."""
    return _mine_pairs_lsh(
        emb, True, k, num_tables, nbits, id_col, vec_col, label_col, seed
    )


def hard_negatives_lsh(
    emb: DataFrame,
    k: int = 1,
    num_tables: int = 16,
    nbits: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    seed: int = 42,
) -> DataFrame:
    """Hard-negative mining, LSH-bucketed SCALE tier: per anchor, the k
    most cosine-similar DIFFERENT-label vectors, candidates met only
    inside (table, bucket) hyperplane groups with the same-label mask
    applied to the in-group score block.  The exact crossJoin tier
    (hard_negatives) is the recall baseline; pytest asserts recall
    against it.

    Default (16 tables, 3 bits) holds recall ~0.95+ even when the true
    nearest neighbor sits at a wide angle (uniform-ish embeddings).
    Tuning at scale: raise nbits to keep per-bucket row counts bounded
    (compare work is sum of bucket^2), then raise num_tables to buy the
    recall back -- collision prob per table is (1 - acos(c)/pi)^nbits."""
    return _mine_pairs_lsh(
        emb, False, k, num_tables, nbits, id_col, vec_col, label_col, seed
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    topk: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09): combine any
    number of per-system rankings of the same id space into one list by
    score(d) = sum over systems of 1/(k + rank_s(d)) -- THE standard
    hybrid-retrieval merge (BM25 + dense ANN) because it needs no score
    calibration between systems, only ranks.

    Each input frame carries (id_col, rank_col) with rank starting at 1;
    ids absent from a system simply contribute nothing.  The fused
    aggregate is |union of top-lists| rows -- top-k-bounded, never
    corpus-scale -- one unionByName (no shuffle) + one groupBy on the id.
    Per-system terms are rounded to 9 digits and summed as
    DECIMAL(20,9), so the cross-engine result is bit-stable; final ties
    broken by id ascending.

    Output: (id, n_systems, rrf_score) top-`topk`.
    """
    term = F.round(
        F.lit(1.0) / (F.lit(int(k)) + F.col(rank_col).cast("long")), 9
    ).cast("decimal(20,9)")
    tagged = [r.select(F.col(id_col), term.alias("__t")) for r in rankings]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    fused = u.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_systems"),
        F.round(F.sum("__t").cast("double"), 6).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(int(topk))


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): per query, select k results that balance relevance to the
    query against redundancy with already-selected results --

        MMR = argmax_d [ lam*sim(q,d) - (1-lam)*max_{s in S} sim(d,s) ]

    the standard diversification pass behind RAG retrieval (don't feed
    the model k near-identical passages).

    Two stages, both bounded: (1) an exact cosine top-`pool` candidate
    fetch per query (broadcast queries, corpus never shuffles); (2) the
    inherently sequential greedy selection runs per query group over at
    most `pool` candidates -- group size `pool`, never corpus-scale, so
    at 100 TB the quadratic term is pool^2 per query, not n^2.  Swap
    stage 1 for ivf_topk/lsh_topk when the corpus outgrows the exact
    tier; stage 2 is unchanged.

    Stage 2 executes as mapInPandas over a bucket-keyed repartition,
    NOT groupBy().applyInPandas: per-query groups are tiny (pool rows)
    and per-group Arrow round-trips cost ~2ms each, while AQE
    byte-coalesces the candidate exchange (a few MB) into one
    partition, so the applyInPandas shape ran EVERY group serially in
    a single task (measured 6.1s vs 1.5s at sf0.1; a keyed repartition
    cannot fix it -- Catalyst elides it as redundant against the
    window's partitioning, the r10-documented trap).  The explicit
    repartition on pmod(xxhash64(query_id), 32*N) survives both the
    elision (different expression) and AQE coalescing (explicit
    numPartitions), N = spark.sql.shuffle.partitions so the width is
    conf-scaled, not tuned to this host; groups stay whole because the
    bucket is a function of query_id, and contiguous because of the
    partition-local sort, so the batch iterator re-forms them with a
    carry-over buffer (memory = one Arrow batch + one group).

    Greedy order is a pure function of rounded similarities with id
    tie-breaks, so reruns and the pytest NumPy replica agree exactly.
    Returns (query_id, neighbor_id, relevance, mmr_score, rank) with
    rank 1..k in selection order.
    """
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    id_t = _id_sql_type(corpus, id_col)
    if candidates is None:
        candidates = cosine_topk(
            corpus, k=pool, queries=queries, id_col=id_col, vec_col=vec_col
        )
    # stage 1 is pluggable: any (query_id, neighbor_id, similarity)
    # frame works -- ivf_topk / lsh_topk at corpus scale, the exact
    # tier for gates.  Stage 2 below is unchanged either way.
    cands = candidates.select(
        "query_id", "neighbor_id", F.col("similarity").alias("relevance")
    )
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    staged = cands.join(vecs, "neighbor_id")

    def select_group(pdf):
        m = np.array(list(pdf["__nv"]), dtype=np.float64)
        mn = _norm_rows(m)
        rel = pdf["relevance"].to_numpy(dtype=np.float64)
        ids_arr = pdf["neighbor_id"].to_numpy()
        n = len(pdf)
        take = min(k, n)
        selected: list[int] = []
        scores: list[float] = []
        # max-sim-to-selected per remaining candidate, updated per pick
        max_red = np.full(n, -np.inf)
        remaining = np.ones(n, dtype=bool)
        for _ in range(take):
            # EXACT decimal scoring (see _mmr_scores_decimal): double
            # arithmetic would land on decimal .5 boundaries ~half the
            # time and engines round those differently -- decimal keeps
            # the greedy value-checkable against a DECIMAL-typed oracle
            score = _mmr_scores_decimal(lam, rel, max_red)
            score[~remaining] = -np.inf
            # argmax with min-id tie-break: lexsort on (-score, id)
            best = np.lexsort((ids_arr, -score))[0]
            selected.append(int(best))
            scores.append(float(score[best]))
            remaining[best] = False
            red = np.round(mn @ mn[best], ROUND_DIGITS)
            max_red = np.maximum(max_red, red)
        return pd.DataFrame(
            {
                "query_id": np.repeat(pdf["query_id"].iloc[0], take),
                "neighbor_id": ids_arr[selected],
                "relevance": rel[selected],
                "mmr_score": scores,
                "rank": np.arange(1, take + 1, dtype="int64"),
            }
        )

    def run(batches):
        # groups are partition-pure (bucket = f(query_id)) and
        # contiguous (partition-local sort); only the LAST group of a
        # batch can be cut by the Arrow batch boundary, so it is
        # carried into the next batch and flushed at iterator end
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
            if not len(pdf):
                continue
            last_q = pdf["query_id"].iloc[-1]
            cut = (pdf["query_id"] == last_q).to_numpy()
            carry = pdf[cut]
            body = pdf[~cut]
            for _, g in body.groupby("query_id", sort=False):
                yield select_group(g)
        if carry is not None and len(carry):
            for _, g in carry.groupby("query_id", sort=False):
                yield select_group(g)

    n_part = int(
        staged.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    spread = staged.repartition(
        n_part, F.pmod(F.xxhash64(F.col("query_id")), F.lit(n_part * 32))
    ).sortWithinPartitions("query_id")
    return spread.mapInPandas(
        run,
        schema=(
            f"query_id {id_t}, neighbor_id {id_t}, relevance double, "
            "mmr_score double, rank long"
        ),
    )


def _train_pq_codebooks(
    sample: np.ndarray, m: int, n_codes: int, n_iter: int = 8, seed: int = 42
) -> np.ndarray:
    """(m, n_codes, dsub) product-quantization codebooks: independent
    k-means per subvector, trained driver-side on the bounded training
    sample with deterministic seeded init (the standard PQ training
    recipe; FAISS trains the same way on a sample)."""
    n, dim = sample.shape
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.zeros((m, n_codes, dsub), dtype=np.float64)
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        init = rng.choice(n, size=min(n_codes, n), replace=False)
        cb = sub[init].copy()
        if len(cb) < n_codes:  # tiny corpora: repeat rows to fill the book
            cb = np.concatenate([cb] * (-(-n_codes // len(cb))))[:n_codes].copy()
        for _ in range(n_iter):
            # argmin ||x - c||^2 == argmin (||c||^2 - 2 x.c); ||x||^2 constant
            d = (cb**2).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
            a = d.argmin(axis=1)
            for c in range(n_codes):
                pts = sub[a == c]
                if len(pts):
                    cb[c] = pts.mean(axis=0)
        books[j] = cb
    return books


def ivf_pq_topk(
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 4,
    m_subvectors: int = 8,
    n_codes: int = 16,
    refine_factor: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_rows: int = 4096,
) -> DataFrame:
    """ANN cosine top-k via IVF-PQ: coarse IVF cells + product-quantized
    corpus codes + per-query ADC lookup tables, optionally exact-refined.

    THE memory-bounded 100 TB ANN layout: after encoding, the corpus
    side of the shuffle carries (cell, m uint8 codes) per vector --
    m bytes instead of dim*4 (64-dim float -> 8 bytes at m=8, a 32x
    squeeze; a production edition would pack the codes into one binary
    column).  Scoring inside each probed cell is asymmetric distance
    computation: one (m x n_codes) inner-product lookup table per
    query, then a fancy-index gather-sum over the cell's code matrix
    -- no full-vector math touches the corpus side at all.

    PQ here quantizes the unit-normalized vectors directly (FAISS
    by_residual=false); codebooks train driver-side on a deterministic
    hash-ordered sample of <= train_rows vectors (bounded collect, the
    same discipline as the IVF centroid sample).

    refine_factor > 0 re-ranks the top k*refine_factor ADC candidates
    with EXACT cosine via a candidate-scale join back to the full
    vectors (the FAISS IndexRefineFlat pattern) -- ADC error then only
    costs recall when a true neighbor falls outside the candidate set,
    not rank precision.  refine_factor=0 returns raw ADC scores.

    Returns (query_id, neighbor_id, similarity, rank).  Approximate --
    gate is rows-only; the recall-vs-exact floor is pytest-asserted.
    """
    import pandas as pd

    first = corpus.select(vec_col).head(1)
    if not first:
        raise ValueError("empty corpus")
    dim = len(first[0][0])
    if dim % m_subvectors:
        raise ValueError(f"m_subvectors={m_subvectors} must divide dim={dim}")
    if not 2 <= n_codes <= 256:
        raise ValueError(f"n_codes must be in [2, 256], got {n_codes}")
    dsub = dim // m_subvectors

    # coarse centroids + PQ training sample: one hash-ordered bounded
    # collect each (deterministic, corpus-size-independent)
    cent_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    )
    cn = _norm_rows(np.array(_centroid_array(cent_rows, vec_col), dtype=np.float64))
    train = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<float>").cast("string"), F.lit(seed)))
        .limit(int(train_rows))
        .collect()
    )
    tn = _norm_rows(np.array([list(r[0]) for r in train], dtype=np.float64))
    books = _train_pq_codebooks(tn, m_subvectors, n_codes, seed=seed)

    id_t = _id_sql_type(corpus, id_col)
    empty_t = "int64" if id_t == "long" else "object"
    ids = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))

    def encode_and_probe(batches):
        """ONE corpus pass for both IVF-PQ roles (the previous shape
        ran separate encode + probe passes -- two scans, two Python
        crossings, and the centroid matmul computed twice).  Emits, per
        vector: n_probe probe rows (pri=false, full vec, codes null)
        exactly as probe() did, plus one member row (pri=true, codes,
        vec NULL -- the PQ squeeze: the corpus side of the shuffle
        still carries m smallint codes, never the embedding) exactly as
        encode() did, with the identical argmax cell."""
        for pdf in batches:
            if not len(pdf):
                continue
            vm = _norm_rows(np.array(list(pdf["vec"]), dtype=np.float64))
            scores = vm @ cn.T
            cells = scores.argmax(axis=1).astype("int32")
            codes = np.zeros((len(pdf), m_subvectors), dtype="int16")
            for j in range(m_subvectors):
                sub = vm[:, j * dsub : (j + 1) * dsub]
                d = (books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ books[j].T)
                codes[:, j] = d.argmin(axis=1)
            take = min(n_probe, scores.shape[1])
            order = np.argsort(-scores, axis=1)[:, :take]
            qi = np.repeat(np.arange(len(pdf)), take)
            vids = pdf["vid"].to_numpy()
            yield pd.DataFrame(
                {
                    "vid": np.concatenate([vids[qi], vids]),
                    "cell": np.concatenate([order.ravel().astype("int32"), cells]),
                    "pri": np.concatenate(
                        [np.zeros(len(qi), dtype=bool), np.ones(len(pdf), dtype=bool)]
                    ),
                    "vec": list(pdf["vec"].to_numpy()[qi]) + [None] * len(pdf),
                    "codes": [None] * len(qi) + list(codes),
                }
            )

    merged = ids.mapInPandas(
        encode_and_probe,
        schema=(
            f"vid {id_t}, cell int, pri boolean, "
            "vec array<float>, codes array<smallint>"
        ),
    )
    n_cand = (k * refine_factor if refine_factor else k) + 1  # +1 absorbs self

    def cell_adc(key, pdf):
        probe_pdf, cell_pdf = pdf[~pdf["pri"]], pdf[pdf["pri"]]
        if not len(probe_pdf) or not len(cell_pdf):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "adc": []}).astype(
                {"query_id": empty_t, "neighbor_id": empty_t, "adc": "float64"}
            )
        qm = _norm_rows(np.array(list(probe_pdf["vec"]), dtype=np.float64))
        code_mat = np.array(list(cell_pdf["codes"]), dtype=np.int64)  # (n_c, m)
        # ADC: per query, LUT[j, c] = q_sub_j . book_j[c]; sim = sum_j LUT[j, code_j]
        sims = np.zeros((len(probe_pdf), len(cell_pdf)))
        for j in range(m_subvectors):
            lut = qm[:, j * dsub : (j + 1) * dsub] @ books[j].T  # (n_q, n_codes)
            sims += lut[:, code_mat[:, j]]
        sims = np.round(sims, ROUND_DIGITS)
        q_ids = probe_pdf["vid"].to_numpy()
        c_ids = cell_pdf["vid"].to_numpy()
        take = min(n_cand, sims.shape[1])
        idx = _topk_tiebroken(sims, c_ids, take)
        qi = np.repeat(np.arange(sims.shape[0]), take)
        ci = idx.ravel()
        out = pd.DataFrame(
            {"query_id": q_ids[qi], "neighbor_id": c_ids[ci], "adc": sims[qi, ci]}
        )
        return out[out.query_id != out.neighbor_id]

    # no pair dedup (same argument as ivf_topk): encode_and_probe puts
    # each corpus vector in exactly ONE cell (argmax), so a
    # (query, neighbor) pair meets in at most one cell group and a
    # dropDuplicates would be a pure extra shuffle of the candidate table
    cand = merged.groupBy("cell").applyInPandas(
        cell_adc, schema=f"query_id {id_t}, neighbor_id {id_t}, adc double"
    )

    from pyspark.sql import Window

    if refine_factor:
        # exact re-rank of the candidate set: candidate-scale joins back
        # to the full vectors, the IndexRefineFlat pattern
        qv = corpus.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
        nv = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
        )
        scored = (
            cand.join(qv, "query_id")
            .join(nv, "neighbor_id")
            .withColumn(
                "similarity",
                F.round(
                    dot(F.col("__qv"), F.col("__nv"))
                    / (l2_norm(F.col("__qv")) * l2_norm(F.col("__nv"))),
                    ROUND_DIGITS,
                ),
            )
            .drop("__qv", "__nv", "adc")
        )
    else:
        scored = cand.withColumn("similarity", F.col("adc")).drop("adc")
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def kmeans_int(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ALL-INTEGER Lloyd iterations over int8-quantized vectors -- the
    value-checked twin of `kmeans_assign` (the pattern of the md5 LSH
    twins: a production float tier plus a cross-engine-exact sibling
    that certifies the algorithm end-to-end).

    Quantize (the llm_cosine_topk_q scheme, already oracle-proven) ->
    init = the k md5-ordered corpus rows (ivf_topk's sampled-centroid
    trick) -> per iteration: assign each vector to the centroid with
    the smallest INTEGER squared-L2 distance (ties -> smaller centroid
    index), then update each centroid component to floor(mean) of its
    members (empty clusters keep their previous centroid).  Every
    quantity is an integer, so the DuckDB oracle replays the unrolled
    iterations bit-for-bit -- no float drift, no ordering sensitivity.

    Scale shape: the corpus is scanned once per iteration against the
    k x dim centroids held as one literal matrix in the plan (no join,
    no shuffle for the argmin); the driver sees only the k x dim
    centroid cells per iteration.
    Returns (vec_id, cluster_id, dist2) under the FINAL centroids.
    """
    q = quantize_embeddings(corpus, vec_col).select(
        F.col(id_col).alias("__vid"),
        F.col("qvec").cast("array<long>").alias("__qv"),
    ).localCheckpoint(eager=True)

    cent_rows = (
        q.withColumn(
            "__h", F.md5(F.concat(F.col("__vid").cast("string"), F.lit(f":{int(seed)}")))
        )
        .orderBy("__h")
        .limit(int(k))
        .collect()
    )
    if len(cent_rows) < int(k):
        raise ValueError(
            f"kmeans_int: corpus has only {len(cent_rows)} rows but k={k}; "
            f"need at least k vectors to seed the centroids"
        )
    cents = [[int(x) for x in r["__qv"]] for r in cent_rows]  # index = cluster_id
    dim = len(cents[0])

    def _assign(centroids):
        # Constant-size plan: the k centroids are ONE literal k x dim
        # matrix (one array literal per centroid), and a single
        # `transform` over it yields per row the (dist2, cluster_id)
        # structs -- dist2 the integer squared-L2 by zip_with/aggregate,
        # cluster_id the matrix index.
        # array_min's lexicographic struct order picks the nearest
        # centroid, ties to the smaller id.  No join, no shuffle.
        cmat = F.array(*[F.lit(np.asarray(vec, np.int64)) for vec in centroids])
        best = F.array_min(
            F.transform(
                cmat,
                lambda c, i: F.struct(
                    F.aggregate(
                        F.zip_with("__qv", c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("dist2"),
                    i.cast("long").alias("cluster_id"),
                ),
            )
        )
        return q.withColumn("__b", best).select(
            "__vid",
            "__qv",
            F.col("__b.cluster_id").alias("cluster_id"),
            F.col("__b.dist2").alias("dist2"),
        )

    for _ in range(int(n_iter)):
        best = _assign(cents)
        comp = (
            best.select("cluster_id", F.posexplode("__qv").alias("__i", "__x"))
            .groupBy("cluster_id", "__i")
            .agg(
                F.floor(
                    F.sum("__x").cast("double") / F.count(F.lit(1)).cast("double")
                ).cast("long").alias("__c")
            )
            .collect()  # k x dim cells, the kmeans_assign discipline
        )
        upd: dict = {}
        for r in comp:
            upd.setdefault(int(r["cluster_id"]), {})[int(r["__i"])] = int(r["__c"])
        cents = [
            [upd[cid][i] for i in range(dim)] if cid in upd else old
            for cid, old in enumerate(cents)
        ]

    return _assign(cents).select(
        F.col("__vid").alias(id_col), "cluster_id", "dist2"
    )


def semantic_dedup_int(
    corpus: DataFrame,
    threshold: float = 0.95,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Closed-form SemDeDup twin, fully value-checkable: cluster with
    the all-integer `kmeans_int`, rank members within each cluster by
    (integer centroid dist2, id), and drop a vector iff ANY
    higher-ranked member of its cluster has quantized cosine >=
    threshold (exemplar = the highest-ranked such member).

    This is the EARLIER-NEIGHBOR policy -- unlike `semantic_dedup`'s
    greedy kept-set chain it is order-free given the rank (a plain
    within-cluster self-join, no sequential state), so Spark stays
    entirely JVM-side and the DuckDB oracle replays it exactly; it may
    drop strictly more rows than the greedy chain (a shadowed row can
    still shadow others), a documented, deterministic policy choice.
    Pairwise work stays cluster-bounded exactly like the float tier.

    Returns (vec_id, cluster_id, keep, exemplar_id) -- exemplar_id is
    the row's own id when kept.
    """
    from pyspark.sql import Window

    assigned = kmeans_int(
        corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    q = quantize_embeddings(corpus, vec_col).select(
        F.col(id_col).alias("__vid"),
        F.col("qvec").cast("array<long>").alias("__qv"),
    )
    t = assigned.withColumnRenamed(id_col, "__vid").join(q, "__vid")
    w = Window.partitionBy("cluster_id").orderBy("dist2", "__vid")
    ranked = t.withColumn("__rnk", F.row_number().over(w)).select(
        "__vid", "cluster_id", "__rnk", "__qv"
    ).localCheckpoint(eager=True)

    a = ranked.select(
        F.col("__vid").alias("vid_a"), F.col("cluster_id"),
        F.col("__rnk").alias("rnk_a"), F.col("__qv").alias("qa"),
    )
    b = ranked.select(
        F.col("__vid").alias("vid_b"), F.col("cluster_id"),
        F.col("__rnk").alias("rnk_b"), F.col("__qv").alias("qb"),
    )
    cos = F.round(
        dot(F.col("qa"), F.col("qb"))
        / (l2_norm(F.col("qa")) * l2_norm(F.col("qb"))),
        ROUND_DIGITS,
    )
    shadows = (
        a.join(b, "cluster_id")
        .filter(F.col("rnk_b") < F.col("rnk_a"))
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= F.lit(float(threshold)))
        .groupBy("vid_a")
        .agg(F.min(F.struct("rnk_b", "vid_b")).alias("__ex"))
        .select(F.col("vid_a").alias("__vid"), F.col("__ex.vid_b").alias("__exid"))
    )
    return (
        ranked.join(shadows, "__vid", "left")
        .select(
            F.col("__vid").alias(id_col),
            "cluster_id",
            F.col("__exid").isNull().alias("keep"),
            F.coalesce("__exid", F.col("__vid")).alias("exemplar_id"),
        )
    )


def ann_pq_int(
    corpus: DataFrame,
    k: int = 5,
    n_codes: int = 8,
    n_sub: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ALL-INTEGER product-quantization ANN twin -- the value-checked
    sibling of `ivfpq_topk` (the pattern of kmeans_int / the md5 LSH
    twins): int8-quantize (proven scheme), split each vector into
    `n_sub` subvectors, build each subspace codebook from the SAME
    `n_codes` md5-ordered sample rows (the ivf_topk sampled-centroid
    trick), encode every vector as its per-subspace integer-argmin
    code, and rank neighbors per query by the asymmetric-distance
    (ADC) sum of integer subspace distances -- every quantity an
    integer, so the DuckDB oracle replays codebooks, codes, ADC, and
    ranks exactly.  Recall vs the exact integer ranking is
    pytest-bounded.

    Scale shape: codes are n_sub small ints per vector (the 32x
    memory shrink PQ exists for); the codebook is n_codes x dim,
    broadcast; ADC per (query, neighbor) touches codes only.  The
    gate's all-pairs ranking is the oracle-baseline tier -- production
    composes these codes under the IVF cell partitioning
    (`ivfpq_topk`).  Returns (query_id, neighbor_id, adc_dist2, rank).
    """
    from pyspark.sql import Window

    spark = corpus.sparkSession
    q = quantize_embeddings(corpus, vec_col).select(
        F.col(id_col).alias("__vid"),
        F.col("qvec").cast("array<long>").alias("__qv"),
    ).localCheckpoint(eager=True)
    first = q.first()
    if first is None:
        raise ValueError("ann_pq_int: corpus is empty -- nothing to index")
    dim = len(first["__qv"])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub

    sample = (
        q.withColumn(
            "__h", F.md5(F.concat(F.col("__vid").cast("string"), F.lit(f":{int(seed)}")))
        )
        .orderBy("__h")
        .limit(int(n_codes))
        .collect()
    )
    # codebook rows: (subspace, code id, subvector)
    cb_rows = [
        (s, c, [int(x) for x in r["__qv"][s * sub : (s + 1) * sub]])
        for c, r in enumerate(sample)
        for s in range(n_sub)
    ]
    cb = spark.createDataFrame(cb_rows, "sub int, code long, cv array<long>")

    subvecs = q.select(
        "__vid",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_sub - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("sub"),
                    F.slice("__qv", s * sub + 1, sub).alias("sv"),
                ),
            )
        ).alias("__e"),
    ).select("__vid", "__e.sub", "__e.sv")

    d2 = F.aggregate(
        F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w_code = Window.partitionBy("__vid", "sub").orderBy("__d2", "code")
    codes = (
        subvecs.join(F.broadcast(cb), "sub")
        .withColumn("__d2", d2)
        .withColumn("__rn", F.row_number().over(w_code))
        .filter(F.col("__rn") == 1)
        .select("__vid", "sub", "code")
        .localCheckpoint(eager=True)
    )

    # ADC: per (query, subspace) the distance from the query's REAL
    # subvector to each codebook entry; neighbors pay the entry their
    # code points at
    qd = (
        subvecs.join(F.broadcast(cb), "sub")
        .withColumn("__qd", d2)
        .select(F.col("__vid").alias("query_id"), "sub", "code", "__qd")
    )
    pairs = (
        codes.select(F.col("__vid").alias("neighbor_id"), "sub", "code")
        .join(qd, ["sub", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__qd").cast("long").alias("adc_dist2"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist2", "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "adc_dist2", "rank")
    )
