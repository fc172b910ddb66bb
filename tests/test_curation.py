"""Corpus-curation operators: decontamination, deterministic
sampling/splits, sequence packing, corpus stats.  Crafted corpora with
known contamination / known packing layouts."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from uofi_payroll_etl_main_spark.llm import curation as C

LEAK = "alpha beta gamma delta epsilon zeta eta theta"
CLEAN = "one two three four five six seven eight nine ten"


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", source="a", text=LEAK),                # verbatim leak
            Row(doc_id=2, lang="en", source="a", text="x " + LEAK + " y"),  # embedded leak
            Row(doc_id=3, lang="en", source="b", text=CLEAN),
            Row(doc_id=4, lang="de", source="b", text="kurz"),              # < n words
        ]
    )


@pytest.fixture(scope="module")
def bench_docs(spark):
    return spark.createDataFrame([Row(doc_id=100, text=LEAK)])


def test_decontaminate_removes_leaks(corpus, bench_docs):
    kept = {r.doc_id for r in C.decontaminate(corpus, bench_docs, n=5).collect()}
    assert kept == {3, 4}


def test_decontaminate_short_doc_exact_match_only(spark, corpus):
    # a short benchmark doc (< n words) participates as its full string:
    # it may only hit docs containing that exact token string as a gram
    bench = spark.createDataFrame([Row(doc_id=100, text="kurz")])
    kept = {r.doc_id for r in C.decontaminate(corpus, bench, n=5).collect()}
    assert kept == {1, 2, 3}


def test_stratified_sample_deterministic(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
    )
    out = C.stratified_sample(df, "doc_id", "lang", {"en": 50, "zh": 20})
    rows = out.collect()
    # exact: even ids (en) with id%100<50 -> 250; odd ids (zh) with id%100<20 -> 100
    assert sum(r.lang == "en" for r in rows) == 250
    assert sum(r.lang == "zh" for r in rows) == 100
    assert out.collect() == rows  # rerun-stable


def test_split_assign_buckets(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    counts = {
        r.split: r.n
        for r in C.split_assign(df, "k").groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"train": 800, "val": 100, "test": 100}
    # hash_key path still covers every row exactly once
    hashed = C.split_assign(df, "k", hash_key=True)
    assert hashed.count() == 1000
    assert set(r.split for r in hashed.select("split").distinct().collect()) <= {"train", "val", "test"}


def test_pack_sequences_invariants(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=i, source="s" + str(i % 3), text=" ".join(["tok"] * n))
            for i, n in enumerate([300, 200, 120, 100, 90, 80, 60, 40, 30, 10, 5, 1])
        ]
    )
    out = C.pack_sequences(df, budget=256, group_col="source").collect()
    assert len(out) == 12  # every doc packed exactly once
    fills: dict[tuple, int] = {}
    for r in out:
        if r.oversize:
            assert r.n_tokens > 256
        else:
            fills[(r.source, r.bin_id)] = fills.get((r.source, r.bin_id), 0) + r.n_tokens
    assert all(v <= 256 for v in fills.values())
    # oversize doc sits alone in its bin
    over_bins = {(r.source, r.bin_id) for r in out if r.oversize}
    assert all(b not in fills for b in over_bins)


def test_pack_sequences_deterministic(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, source="s", text=" ".join(["w"] * (10 + i * 7 % 90))) for i in range(40)]
    )
    a = sorted(map(tuple, C.pack_sequences(df, budget=128).collect()))
    b = sorted(map(tuple, C.pack_sequences(df, budget=128).collect()))
    assert a == b


def test_percentile_filter_exact_half(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, lang="en", score=float(i)) for i in range(10)]
    )
    kept = {r.doc_id for r in C.percentile_filter(df, "score", "lang", 0.5).collect()}
    # percent_rank < 0.5 over desc order keeps the top half (9..5)
    assert kept == {9, 8, 7, 6, 5}


def test_percentile_filter_tiebreak_deterministic(spark):
    df = spark.createDataFrame([Row(doc_id=i, lang="en", score=1.0) for i in range(4)])
    kept = {r.doc_id for r in C.percentile_filter(df, "score", "lang", 0.5).collect()}
    assert kept == {0, 1}  # id tiebreak: lowest ids win at equal score


def test_cross_dedup_drops_seen_fingerprints(spark):
    seen = spark.createDataFrame([Row(doc_id=1, text="Hello   World")])
    corpus = spark.createDataFrame(
        [
            Row(doc_id=10, text="hello world"),   # normalized match -> dropped
            Row(doc_id=11, text="brand new doc"),
        ]
    )
    kept = [r.doc_id for r in C.cross_dedup(corpus, seen).collect()]
    assert kept == [11]


def test_cross_dedup_broadcasts_small_seen_unhinted(spark):
    """A one-row `seen` needs no hint.  Its Python-RDD scan has no size
    estimate, so the static plan is a sort-merge join; AQE sees the
    one-row side after its shuffle and executes the anti-join as a
    BroadcastHashJoin LeftAnti."""
    seen = spark.createDataFrame([Row(doc_id=1, text="Hello   World")])
    corpus = spark.range(64).selectExpr(
        "id AS doc_id", "concat('doc ', CAST(id AS STRING)) AS text"
    )
    out = C.cross_dedup(corpus, seen)
    assert len(out.collect()) == 64
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "LeftAnti" in final, plan
    assert "SortMergeJoin" not in final, plan


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail me at jane.doe+x@example.co.uk today"),
            Row(doc_id=2, text="ssn 123-45-6789 card 4111 1111 1111 1111"),
            Row(doc_id=3, text="call +1 (555) 123-4567 now"),
            Row(doc_id=4, text="nothing sensitive here"),
        ]
    )
    out = {r.doc_id: r.red for r in df.select("doc_id", C.redact_pii("text").alias("red")).collect()}
    assert out[1] == "mail me at [EMAIL] today"
    assert "[SSN]" in out[2] and "[CARD]" in out[2]
    assert "123-45-6789" not in out[2] and "4111" not in out[2]
    assert "[PHONE]" in out[3] and "555" not in out[3]
    assert out[4] == "nothing sensitive here"


def test_corpus_stats(corpus):
    stats = {(r.source, r.lang): r for r in C.corpus_stats(corpus).collect()}
    a = stats[("a", "en")]
    assert a.n_docs == 2 and a.n_distinct_texts == 2 and a.dup_ratio == 0.0
    assert a.total_tokens == 8 + 10
    b = stats[("b", "de")]
    assert b.n_docs == 1 and b.total_tokens == 1


def test_chunk_documents_windows(spark):
    df = spark.createDataFrame([Row(doc_id=1, text=" ".join(f"w{i}" for i in range(10)))])
    out = sorted(
        C.chunk_documents(df, chunk_tokens=4, stride=3).collect(),
        key=lambda r: r.chunk_start,
    )
    # starts 1,4,7,10 over 10 tokens
    assert [r.chunk_start for r in out] == [1, 4, 7, 10]
    assert out[0].chunk_text == "w0 w1 w2 w3" and out[0].n_tokens == 4
    assert out[-1].chunk_text == "w9" and out[-1].n_tokens == 1


def test_chunk_documents_edge_cases(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="only two"), Row(doc_id=2, text="   ")]
    )
    out = C.chunk_documents(df, chunk_tokens=32, stride=24).collect()
    assert len(out) == 1  # blank doc yields no chunks
    assert out[0].doc_id == 1 and out[0].chunk_text == "only two"


def test_mixture_weights_normalized(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, source="a" if i < 90 else "b") for i in range(100)]
    )
    w = {r.source: r for r in C.mixture_weights(df, "source", alpha=0.5).collect()}
    assert abs(w["a"].weight + w["b"].weight - 1.0) < 1e-12
    # alpha<1 upweights the small source relative to raw share
    assert w["b"].weight > 0.10
    assert w["a"].n_docs == 90 and w["b"].n_docs == 10


def test_dedup_lines_keeps_canonical_first(spark):
    from uofi_payroll_etl_main_spark.llm.curation import dedup_lines

    rows = [
        (1, "boiler\nunique one"),
        (2, "boiler\nunique two"),
        (3, "boiler\nunique three"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup_lines(df, max_occurrences=2).collect()
    }
    # 'boiler' occurs 3 times (> 2): only doc 1 (canonical first) keeps it
    assert out[1]["text"] == "boiler\nunique one"
    assert out[2]["text"] == "unique two" and out[2]["n_dropped"] == 1
    assert out[3]["text"] == "unique three" and out[3]["n_dropped"] == 1
    # blank doc passes through with zero lines
    assert out[4]["text"] == "" and out[4]["n_lines"] == 0


def test_dedup_lines_under_threshold_untouched(spark):
    from uofi_payroll_etl_main_spark.llm.curation import dedup_lines

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup_lines(df, max_occurrences=2).collect()}
    assert out[1]["text"] == "a\nb" and out[1]["n_dropped"] == 0
    assert out[2]["text"] == "a\nc" and out[2]["n_dropped"] == 0


def test_importance_sample_deterministic_and_monotone(spark):
    from uofi_payroll_etl_main_spark.llm.curation import importance_sample

    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 400).alias("w")
    )
    kept1 = importance_sample(df, "k", "w", ppm_per_unit=2000).collect()
    kept2 = importance_sample(df, "k", "w", ppm_per_unit=2000).collect()
    assert sorted(r["k"] for r in kept1) == sorted(r["k"] for r in kept2)
    # weight 0 rows can never be kept; cap-saturated weights always kept
    assert all(r["w"] > 0 for r in kept1)
    high = importance_sample(
        df.filter(F.col("w") >= 350), "k", "w", ppm_per_unit=1_000_000
    )
    assert high.count() == df.filter(F.col("w") >= 350).count()
    # inclusion rate tracks weight: heavier half kept more often
    heavy = sum(1 for r in kept1 if r["w"] >= 200)
    light = sum(1 for r in kept1 if r["w"] < 200)
    assert heavy > light


def test_observe_counts_piggybacks_on_action(spark):
    from uofi_payroll_etl_main_spark.report import observe_counts

    df, obs = observe_counts(spark.range(0, 1234).filter(F.col("id") % 2 == 0))
    assert df.count() == 617
    assert obs.get["n_rows"] == 617


class TestCurriculumShards:
    def test_matches_global_ranking_model(self, spark):
        import numpy as np

        from uofi_payroll_etl_main_spark.llm.curation import curriculum_shards

        rng = np.random.RandomState(7)
        rows_in = [(int(i), round(float(rng.rand()), 6)) for i in range(137)]
        df = spark.createDataFrame(rows_in, "doc_id long, score double")
        got = {r["doc_id"]: (r["rank"], r["shard"]) for r in
               curriculum_shards(df, n_shards=4).collect()}
        order = sorted(rows_in, key=lambda t: (-t[1], t[0]))
        n = len(order)
        for rank, (i, _) in enumerate(order):
            assert got[i] == (rank, (rank * 4) // n)
        # shards are contiguous and near-balanced
        from collections import Counter

        sizes = Counter(s for _, s in got.values())
        assert set(sizes) == {0, 1, 2, 3}
        assert max(sizes.values()) - min(sizes.values()) <= 1

    def test_no_single_partition_global_sort(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import curriculum_shards

        df = spark.range(1000).select(
            F.col("id").alias("doc_id"),
            (F.pmod(F.col("id") * 37, 1000) / 1000.0).alias("score"),
        )
        plan = (
            curriculum_shards(df, n_shards=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # ranking must ride the bucket exchange; a global rank would
        # show a SinglePartition exchange feeding the big window
        assert "rangepartitioning" not in plan.lower()


class TestMixtureApply:
    def test_rates_and_determinism(self, spark):
        import hashlib

        from uofi_payroll_etl_main_spark.llm.curation import mixture_apply

        # skewed corpus: big source dominates, small source upweighted
        rows_in = [(i, "big") for i in range(900)] + [
            (1000 + i, "small") for i in range(100)
        ]
        df = spark.createDataFrame(rows_in, "doc_id long, source string")
        out = mixture_apply(df, target_frac=0.5).collect()
        rates = {r["source"]: r["rate_pm"] for r in out}
        # sqrt temperature: small source keeps a larger FRACTION
        assert rates["small"] > rates["big"]
        # keep rule replicated in python: md5 13-hex bucket
        for r in out:
            b = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:13], 16) % 1000
            assert b < r["rate_pm"]
        # deterministic across invocations
        again = sorted((r["doc_id"]) for r in mixture_apply(df, target_frac=0.5).collect())
        assert again == sorted(r["doc_id"] for r in out)

    def test_overall_volume_near_target(self, spark, sf_dir):
        from uofi_payroll_etl_main_spark.llm.curation import mixture_apply

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = d.count()
        kept = mixture_apply(d, target_frac=0.5).count()
        assert 0.35 * n < kept < 0.65 * n  # md5-bucket noise at small n


class TestContaminationOverlap:
    def test_graded_fractions(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import contamination_overlap

        # benchmark doc: 6 words -> two 5-grams
        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
        )
        docs = spark.createDataFrame(
            [
                # identical -> both grams hit: overlap 1.0
                (1, "alpha beta gamma delta epsilon zeta"),
                # first 5 words only -> its single gram hits: 1.0
                (2, "alpha beta gamma delta epsilon"),
                # one shared gram out of three: 1/3
                (3, "alpha beta gamma delta epsilon one two"),
                # disjoint: 0.0
                (4, "totally different words here that never overlap anything"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in contamination_overlap(docs, bench, n=5).collect()}
        assert got[1]["overlap_frac"] == 1.0 and got[1]["n_grams"] == 2
        assert got[2]["overlap_frac"] == 1.0 and got[2]["n_grams"] == 1
        assert got[3]["n_grams"] == 3 and got[3]["n_hit"] == 1
        assert abs(got[3]["overlap_frac"] - round(1 / 3, 6)) < 1e-9
        assert got[4]["overlap_frac"] == 0.0 and got[4]["n_hit"] == 0

    def test_total_docs_preserved(self, spark, sf_dir):
        from uofi_payroll_etl_main_spark.llm.curation import contamination_overlap

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bench = docs.filter("doc_id % 97 = 0")
        out = contamination_overlap(docs, bench, n=5)
        assert out.count() == docs.count()  # every doc scored, even 0-overlap


class TestBoilerplate:
    def test_catalog_and_fraction(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import (
            boilerplate_fraction,
            boilerplate_ngrams,
        )

        footer = "copyright acme corp all rights reserved"
        docs = spark.createDataFrame(
            [
                (1, f"unique article one body text here {footer}"),
                (2, f"another entirely different article body {footer}"),
                (3, f"third piece of writing goes here {footer}"),
                (4, "no shared template text in this one at all"),
            ],
            "doc_id long, text string",
        )
        cat = {r["gram"]: r["n_docs"] for r in boilerplate_ngrams(docs, n=3, min_docs=3).collect()}
        assert "copyright acme corp" in cat and cat["copyright acme corp"] == 3
        assert all(n >= 3 for n in cat.values())
        # footer-internal grams only -- nothing from unique bodies
        assert not any("article" in g for g in cat)

        frac = {r["doc_id"]: r for r in boilerplate_fraction(docs, n=3, min_docs=3).collect()}
        assert frac[4]["n_boiler"] == 0 and frac[4]["boiler_frac"] == 0.0
        for d in (1, 2, 3):
            assert frac[d]["n_boiler"] >= 4  # the footer's 3-gram run
            assert 0 < frac[d]["boiler_frac"] < 1


class TestSpanCorruption:
    def test_matches_python_model_and_invariants(self, spark, sf_dir):
        import math

        from uofi_payroll_etl_main_spark.llm.curation import span_corruption

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        got = {}
        for r in span_corruption(docs).collect():
            got[(r["doc_id"], r["span_id"])] = (r["start"], r["length"], r["span_text"])

        import re as _re

        for row in docs.collect():
            toks = [t for t in _re.split(r"\s+", row["text"].strip().lower()) if t]
            n = len(toks)
            ns = int(math.floor(n * 0.15 / 3))
            if ns < 1:
                continue
            seg = int(math.floor(n / ns))
            slot = max(1, seg - 3 + 1)
            for i in range(ns):
                h = (((row["doc_id"] * 131 + i) % 2147483648) * 2654435761 + 12345) % 1000000007
                start = i * seg + (h % slot) + 1
                expect = (start, 3, " ".join(toks[start - 1 : start + 2]))
                assert got[(row["doc_id"], i)] == expect, (row["doc_id"], i)

        # invariants: spans non-overlapping and in-bounds per doc
        bydoc = {}
        for (d, i), (start, length, _) in got.items():
            bydoc.setdefault(d, []).append((start, length))
        for d, spans in bydoc.items():
            spans.sort()
            for (s1, l1), (s2, _) in zip(spans, spans[1:]):
                assert s1 + l1 <= s2, (d, spans)

    def test_deterministic(self, spark, sf_dir):
        from uofi_payroll_etl_main_spark.llm.curation import span_corruption

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = sorted(tuple(r) for r in span_corruption(docs).collect())
        b = sorted(tuple(r) for r in span_corruption(docs).collect())
        assert a == b


class TestFimTransform:
    def test_psm_reconstructs_original(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import fim_transform

        docs = spark.createDataFrame(
            [(i, f"Alpha beta GAMMA delta text number {i} epsilon zeta") for i in range(40)],
            "doc_id long, text string",
        )
        rows = fim_transform(docs, fim_rate=0.5).collect()
        assert len(rows) == 40
        applied = [r for r in rows if r.fim_applied]
        passthrough = [r for r in rows if not r.fim_applied]
        assert applied and passthrough  # rate 0.5 hits both at n=40
        for r in applied:
            assert r.psm.startswith("<PRE>")
            pre, rest = r.psm[5:].split("<SUF>", 1)
            suf, mid = rest.split("<MID>", 1)
            original = f"alpha beta gamma delta text number {r.doc_id} epsilon zeta"
            assert pre + mid + suf == original
            assert len(pre) == r.split_1 and len(pre) + len(mid) == r.split_2
        for r in passthrough:
            assert "<PRE>" not in r.psm and r.split_1 is None and r.split_2 is None

    def test_deterministic_across_runs(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import fim_transform

        docs = spark.createDataFrame(
            [(i, f"some document body {i} with words") for i in range(20)],
            "doc_id long, text string",
        )
        a = sorted(map(tuple, fim_transform(docs).collect()))
        b = sorted(map(tuple, fim_transform(docs.repartition(7)).collect()))
        assert a == b

    def test_rate_bounds(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import fim_transform

        docs = spark.createDataFrame(
            [(i, "x y z") for i in range(30)], "doc_id long, text string"
        )
        none = fim_transform(docs, fim_rate=0.0).collect()
        assert all(not r.fim_applied for r in none)
        everything = fim_transform(docs, fim_rate=1.0).collect()
        assert all(r.fim_applied for r in everything)

    def test_empty_text_applies_cleanly(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import fim_transform

        docs = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id long, text string")
        out = {r.doc_id: r for r in fim_transform(docs, fim_rate=1.0).collect()}
        for r in out.values():
            assert r.psm == "<PRE><SUF><MID>"
            assert r.split_1 == 0 and r.split_2 == 0


class TestLeakageSafeSplit:
    def test_clusters_never_straddle_splits(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import leakage_safe_split

        # 300 docs in 100 clusters of 3 -- every cluster must land whole
        clusters = spark.createDataFrame(
            [(c * 3 + i, c * 3) for c in range(100) for i in range(3)],
            "doc_id long, cluster_id long",
        )
        out = leakage_safe_split(clusters).collect()
        assert len(out) == 300
        by_cluster = {}
        for r in out:
            by_cluster.setdefault(r.cluster_id, set()).add(r.split)
        assert all(len(s) == 1 for s in by_cluster.values())
        # default 100/100 per-mille shares: all three splits appear at
        # n=100 clusters, train dominates
        shares = {}
        for s in by_cluster.values():
            k = next(iter(s))
            shares[k] = shares.get(k, 0) + 1
        assert set(shares) == {"train", "val", "test"}
        assert shares["train"] > shares["val"] and shares["train"] > shares["test"]

    def test_split_is_cluster_hash_not_doc_hash(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import leakage_safe_split

        # same cluster id under different doc ids -> identical split
        a = leakage_safe_split(
            spark.createDataFrame([(1, 42), (999, 42)], "doc_id long, cluster_id long")
        ).collect()
        assert a[0].split == a[1].split

    def test_zero_shares_put_everything_in_train(self, spark):
        from uofi_payroll_etl_main_spark.llm.curation import leakage_safe_split

        clusters = spark.createDataFrame(
            [(i, i) for i in range(50)], "doc_id long, cluster_id long"
        )
        out = leakage_safe_split(clusters, val_pm=0, test_pm=0).collect()
        assert all(r.split == "train" for r in out)
