"""Unit semantics for the retrieval / preference / bucketing family
added in round 5: adamic_adar, bm25_topk, preference_pairs,
length_buckets.  The cross-engine value checks live in the oracle gate
(tools/check_oracles.py); these tests pin the SEMANTIC contracts on
hand-checkable inputs -- tie-breaks, clamps, exclusions."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from uofi_payroll_etl_main_spark.graph import adamic_adar
from uofi_payroll_etl_main_spark.llm.chat import preference_pairs
from uofi_payroll_etl_main_spark.llm.curation import length_buckets
from uofi_payroll_etl_main_spark.llm.text import bm25_topk


def test_adamic_adar_toy_graph(spark):
    # a-b, a-c, b-c, c-d: the only non-adjacent pairs with a common
    # neighbor are (a,d) and (b,d), both through c (deg 3).
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )
    rows = {(r.x, r.y): r for r in adamic_adar(edges).collect()}
    assert set(rows) == {("a", "d"), ("b", "d")}
    expected = round(1.0 / math.log(3), 6)
    for r in rows.values():
        assert r.n_common == 1
        assert r.aa_score == pytest.approx(expected, abs=1e-6)


def test_adamic_adar_excludes_existing_edges_and_caps_hubs(spark):
    # star: h connected to x1..x4 -- every leaf pair is a candidate
    # through the hub; capping max_degree below 4 removes them all.
    edges = spark.createDataFrame(
        [("h", f"x{i}") for i in range(1, 5)], ["src", "dst"]
    )
    full = adamic_adar(edges).collect()
    assert len(full) == 6  # C(4,2) leaf pairs, no (h, leaf) rows
    assert all(r.x != "h" and r.y != "h" for r in full)
    assert adamic_adar(edges, max_degree=3).collect() == []


def test_adamic_adar_duplicate_and_reversed_edges_collapse(spark):
    edges = spark.createDataFrame(
        [("a", "c"), ("c", "a"), ("a", "c"), ("b", "c")], ["src", "dst"]
    )
    rows = adamic_adar(edges).collect()
    # a-b via c; deg(c)=2 regardless of the duplicates
    assert len(rows) == 1
    assert (rows[0].x, rows[0].y) == ("a", "b")
    assert rows[0].aa_score == pytest.approx(round(1.0 / math.log(2), 6), abs=1e-6)


def test_bm25_ranks_rare_term_doc_first(spark):
    # 'zebra' appears in one doc, 'data' in all: the zebra doc must
    # outrank every data-only doc for the query {zebra, data}.
    docs = spark.createDataFrame(
        [
            (1, "data data data data"),
            (2, "zebra data"),
            (3, "data data"),
            (4, "data"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, ["zebra", "data"], k=4).collect()
    assert out[0].doc_id == 2
    assert out[0].n_terms == 2
    assert all(out[0].bm25 > r.bm25 for r in out[1:])


def test_bm25_term_saturation_not_linear(spark):
    # doubling tf must NOT double the score (k1 saturation).
    docs = spark.createDataFrame(
        [(1, "cat"), (2, "cat cat"), (3, "dog filler words here")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.bm25 for r in bm25_topk(docs, ["cat"], k=3).collect()}
    assert set(got) == {1, 2}
    assert got[2] > got[1]
    assert got[2] < 2 * got[1]


def test_preference_pairs_tie_breaks_and_singletons(spark):
    comp = spark.createDataFrame(
        [
            # group 1: clear best/worst
            (1, 10, 5), (1, 11, 9), (1, 12, 1),
            # group 2: all-tied scores -> chosen = highest id, rejected = lowest
            (2, 20, 7), (2, 21, 7), (2, 22, 7),
            # group 3: singleton -> dropped
            (3, 30, 4),
            # group 4: null scores are unrated, leaving a singleton -> dropped
            (4, 40, None), (4, 41, 3),
        ],
        "prompt_id long, completion_id long, score long",
    )
    rows = {r.prompt_id: r for r in preference_pairs(comp).collect()}
    assert set(rows) == {1, 2}
    assert (rows[1].chosen_id, rows[1].rejected_id) == (11, 12)
    assert (rows[1].chosen_score, rows[1].rejected_score, rows[1].margin) == (9, 1, 8)
    assert (rows[2].chosen_id, rows[2].rejected_id) == (22, 20)
    assert rows[2].margin == 0 and rows[2].n_completions == 3


def test_length_buckets_assignment_and_truncation(spark):
    def words(n):
        return " ".join(["w"] * n)

    docs = spark.createDataFrame(
        [(1, words(5)), (2, words(16)), (3, words(17)), (4, words(2000))],
        ["doc_id", "text"],
    )
    rows = {r.bucket: r for r in length_buckets(docs).collect()}
    assert set(rows) == {16, 32, 1024}
    assert rows[16].n_docs == 2 and rows[16].sum_tokens == 21
    assert rows[32].n_docs == 1 and rows[32].sum_tokens == 17
    # overflow doc clamps to the last bucket and counts as truncated
    assert rows[1024].n_truncated == 1
    assert rows[1024].kept_tokens == 1024 and rows[1024].sum_tokens == 2000
    assert rows[1024].pad_frac == 0.0
    assert rows[16].pad_frac == pytest.approx(1 - 21 / 32, abs=1e-6)


def test_weighted_median_hand_case(spark):
    from uofi_payroll_etl_main_spark.aggregates import weighted_median

    df = spark.createDataFrame(
        [
            # group a: weights pile on 10 -> median 10
            ("a", 1.0, 1.0), ("a", 10.0, 5.0), ("a", 100.0, 1.0),
            # group b: half-weight boundary hits exactly at value 2
            ("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 1.0), ("b", 4.0, 1.0),
            # group c: nulls ignored
            ("c", None, 9.0), ("c", 7.0, 1.0), ("c", 8.0, None),
        ],
        "k string, v double, w double",
    )
    got = {r.k: r.weighted_median for r in weighted_median(df, "k", "v", "w").collect()}
    assert got == {"a": 10.0, "b": 2.0, "c": 7.0}


def test_weighted_median_unit_weights_match_lower_median(spark):
    from uofi_payroll_etl_main_spark.aggregates import weighted_median

    df = spark.createDataFrame(
        [("g", float(v), 1.0) for v in [5, 1, 4, 2, 3]],
        "k string, v double, w double",
    )
    # lower median of 1..5 is 3
    assert weighted_median(df, "k", "v", "w").collect()[0].weighted_median == 3.0


def test_rrf_fuse_math_and_order(spark):
    from uofi_payroll_etl_main_spark.llm.similarity import rrf_fuse

    r1 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    r2 = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank long")
    rows = {r.doc_id: r for r in rrf_fuse([r1, r2], k=60, topk=10).collect()}
    # doc 2 appears in both lists -> highest fused score
    assert rows[2].n_systems == 2
    assert rows[2].rrf_score == pytest.approx(
        round(1 / 62, 9) + round(1 / 61, 9), abs=1e-6
    )
    assert rows[1].n_systems == 1
    assert rows[2].rrf_score > rows[1].rrf_score > rows[3].rrf_score
    # k dampening: larger k compresses the gap but keeps the order
    big_k = {r.doc_id: r.rrf_score for r in rrf_fuse([r1, r2], k=600).collect()}
    assert big_k[2] > big_k[1]


def test_modularity_two_triangles(spark):
    from uofi_payroll_etl_main_spark.graph import modularity

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")],
        ["src", "dst"],
    )
    com = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("c", "t1"),
         ("d", "t2"), ("e", "t2"), ("f", "t2")],
        ["node", "label"],
    )
    row = modularity(edges, com).collect()[0]
    assert row.n_communities == 2 and row.m_edges == 7
    # 2 * (3/7 - (7/14)^2) = 6/7 - 1/2
    assert row.modularity == pytest.approx(6 / 7 - 0.5, abs=1e-6)


def test_modularity_single_community_is_zero(spark):
    from uofi_payroll_etl_main_spark.graph import modularity

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], ["src", "dst"]
    )
    com = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x")], ["node", "label"]
    )
    row = modularity(edges, com).collect()[0]
    assert row.modularity == pytest.approx(0.0, abs=1e-6)


def _mmr_replica(vecs, rel_by_id, lam, k):
    """Pure-python greedy MMR: same rounding and tie-break as mmr_topk."""
    import numpy as np

    ids = sorted(rel_by_id)
    m = np.array([vecs[i] for i in ids], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    rel = np.array([rel_by_id[i] for i in ids])
    ids_arr = np.array(ids)
    selected, scores = [], []
    max_red = np.full(len(ids), -np.inf)
    remaining = np.ones(len(ids), dtype=bool)
    from uofi_payroll_etl_main_spark.llm.similarity import _mmr_scores_decimal

    for _ in range(min(k, len(ids))):
        # exact-decimal scoring, same as the kernel
        score = _mmr_scores_decimal(lam, rel, max_red)
        score[~remaining] = -np.inf
        best = np.lexsort((ids_arr, -score))[0]
        selected.append(int(ids_arr[best]))
        scores.append(float(score[best]))
        remaining[best] = False
        max_red = np.maximum(max_red, np.round(mn @ mn[best], 6))
    return selected, scores


def test_mmr_diversifies_and_matches_replica(spark):
    """Two near-duplicate highly-relevant docs: plain top-2 takes both;
    MMR takes one of the pair plus the moderately-relevant distinct
    doc.  Selection order and scores match the pure-python replica."""
    from uofi_payroll_etl_main_spark.llm.similarity import cosine_topk, mmr_topk

    vecs = {
        0: [1.0, 0.0, 0.0],            # query
        1: [0.98, 0.2, 0.0],           # relevant
        2: [0.97, 0.21, 0.0],          # near-dup of 1
        3: [0.7, 0.0, 0.7],            # distinct, moderately relevant
        4: [0.0, 1.0, 0.0],            # irrelevant
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    queries = df.filter(F.col("vec_id") == 0)

    plain = [r.neighbor_id for r in cosine_topk(df, k=2, queries=queries)
             .orderBy("rank").collect()]
    assert set(plain) == {1, 2}  # redundant pair

    got = mmr_topk(df, queries, k=3, lam=0.5, pool=4).orderBy("rank").collect()
    rel = {r.neighbor_id: r.similarity for r in
           cosine_topk(df, k=4, queries=queries).collect()}
    want_ids, want_scores = _mmr_replica(
        {i: v for i, v in vecs.items() if i != 0}, rel, 0.5, 3
    )
    assert [r.neighbor_id for r in got] == want_ids
    assert [r.mmr_score for r in got] == pytest.approx(want_scores, abs=1e-9)
    assert got[1].neighbor_id == 3      # second pick is the DIVERSE doc
    assert {got[0].neighbor_id} < {1, 2}  # first pick from the dup pair


def test_mmr_lambda_one_equals_pure_relevance(spark):
    """lam=1 disables the redundancy term: MMR order == cosine top-k
    order."""
    from uofi_payroll_etl_main_spark.llm.similarity import cosine_topk, mmr_topk

    import random
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 2)
    mmr = mmr_topk(df, queries, k=5, lam=1.0, pool=10)
    base = cosine_topk(df, k=5, queries=queries)
    a = sorted((r.query_id, r.rank, r.neighbor_id) for r in mmr.collect())
    b = sorted((r.query_id, r.rank, r.neighbor_id) for r in base.collect())
    assert a == b

    with pytest.raises(ValueError, match="lam"):
        mmr_topk(df, queries, lam=1.5)


def test_mmr_pluggable_candidates_equals_default(spark):
    """Feeding mmr_topk the exact tier's own candidates through the
    `candidates` parameter must reproduce the default path exactly --
    the wiring contract the ANN-fed gate (llm_mmr_ann) relies on."""
    import random

    from uofi_payroll_etl_main_spark.llm.similarity import cosine_topk, mmr_topk

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(6)]) for i in range(25)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3)
    default = mmr_topk(df, queries, k=4, lam=0.6, pool=10)
    fed = mmr_topk(
        df, queries, k=4, lam=0.6,
        candidates=cosine_topk(df, k=10, queries=queries),
    )
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.mmr_score)  # noqa: E731
    assert sorted(map(key, default.collect())) == sorted(map(key, fed.collect()))


def test_mmr_same_rows_under_one_shuffle_partition(spark):
    """Stage 2's repartition width follows spark.sql.shuffle.partitions;
    at width 1 every query group shares one partition (and one batch
    stream), and the selection must not change.  Spark itself refuses a
    non-positive or non-integer width at conf.set, so the width the
    kernel reads is always a positive int."""
    import random

    from pyspark.errors import PySparkException
    from pyspark.sql.utils import IllegalArgumentException

    from uofi_payroll_etl_main_spark.llm.similarity import mmr_topk

    rnd = random.Random(23)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(6)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 12)
    key = lambda r: (r.query_id, r.rank, r.neighbor_id, r.mmr_score)  # noqa: E731
    default = sorted(map(key, mmr_topk(df, queries, k=4, lam=0.6, pool=10).collect()))
    conf = spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    try:
        for bad in ("abc", "8.0", "0", "-1"):
            with pytest.raises((PySparkException, IllegalArgumentException)):
                conf.set("spark.sql.shuffle.partitions", bad)
        conf.set("spark.sql.shuffle.partitions", "1")
        one = sorted(map(key, mmr_topk(df, queries, k=4, lam=0.6, pool=10).collect()))
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
    assert len(default) == 12 * 4
    assert one == default
