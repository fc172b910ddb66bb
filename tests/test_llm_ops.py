"""LLM-data-pipeline operators: dedup family (exact, fingerprint,
Jaccard, MinHash-LSH, SimHash), text analysis, and similarity search.
Crafted corpora with known near-duplicates; cosine top-k checked against
a NumPy brute-force oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from uofi_payroll_etl_main_spark.llm import dedup as D
from uofi_payroll_etl_main_spark.llm import text as T
from uofi_payroll_etl_main_spark.llm.similarity import cosine_topk, lsh_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm windowsill", "cold doorstep")  # small edit
FAR = (
    "completely unrelated text about distributed query engines shuffling "
    "partitions across executors with adaptive execution enabled"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=BASE),
            Row(doc_id=2, text=BASE),        # exact duplicate
            Row(doc_id=3, text=NEAR),        # near duplicate
            Row(doc_id=4, text=FAR),
            Row(doc_id=5, text="  The  QUICK brown fox jumps over the lazy dog while "
                               "the cat watches from the warm windowsill and the birds "
                               "sing in the garden outside  "),  # fingerprint-equal to 1
        ]
    )


def test_exact_dedup_groups(docs):
    groups = D.exact_dedup_groups(docs).collect()
    keepers = {r.keeper_id: r.n_dups for r in groups}
    assert keepers[1] == 2      # docs 1+2 collapse; min doc_id is the keeper
    assert 2 not in keepers
    assert keepers[3] == 1 and keepers[4] == 1 and keepers[5] == 1


def test_fingerprint_dedup_catches_case_whitespace(docs):
    keepers = {r.keeper_id: r.n_dups for r in D.fingerprint_dedup(docs).collect()}
    assert keepers[1] == 3      # normalized variant (doc 5) joins the 1+2 group
    assert 5 not in keepers and 2 not in keepers
    assert keepers[3] == 1 and keepers[4] == 1


def test_jaccard_pairs_finds_near_dup(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in D.jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_signature_properties(docs):
    sigs = {r.doc_id: r.sig for r in docs.select(
        "doc_id", D.minhash_signature("text").alias("sig")).collect()}
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    agree13 = sum(a == b for a, b in zip(sigs[1], sigs[3])) / len(sigs[1])
    agree14 = sum(a == b for a, b in zip(sigs[1], sigs[4])) / len(sigs[1])
    assert agree13 > agree14  # near-dup agrees on more components than unrelated
    assert agree13 >= 0.5     # ~ Jaccard estimate for the near pair


def test_minhash_lsh_pairs_recall_and_precision(docs):
    got = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got and (1, 3) in got
    assert not any(4 in p for p in got)  # exact-Jaccard verification: precision 1


def test_minhash_md5_tier_matches_python_replica(docs):
    """The verifiable md5 tier's candidate set equals a pure-Python
    replica of the same algebra (normalize -> 3-gram shingles -> md5
    hex-lane string mins -> 4x4 banding), and exact duplicates always
    collide on every band."""
    import hashlib
    import re

    got = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs_md5(docs).collect()}
    rows = docs.collect()

    def shingles(text):
        t = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        if len(t) >= 3:
            return set(" ".join(t[i:i + 3]) for i in range(len(t) - 2))
        return {" ".join(t)}

    def sig(text):
        comps = []
        for j in range(4):
            for lane in range(4):
                comps.append(min(
                    hashlib.md5(f"{j}:{s}".encode()).hexdigest()[lane * 8:lane * 8 + 8]
                    for s in shingles(text)
                ))
        return comps

    sigs = {r.doc_id: sig(r.text) for r in rows}
    want = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            for band in range(4):
                if sigs[a][band * 4:band * 4 + 4] == sigs[b][band * 4:band * 4 + 4]:
                    want.add((a, b))
                    break
    assert got == want, (sorted(got), sorted(want))
    assert (1, 2) in got  # exact duplicate: identical signature, all bands


def test_simhash_md5_tier_matches_python_replica(docs):
    """The verifiable md5 SimHash: candidate set + hammings equal a
    pure-Python replica (md5 nibble bit-majority votes, 4x16 banding,
    exact verify), and the exact duplicate lands at hamming 0."""
    import hashlib
    import re

    got = {(r.doc_a, r.doc_b): r.hamming
           for r in D.simhash_md5_candidates(docs, max_hamming=3).collect()}
    rows = docs.collect()

    def sig_chunks(text):
        toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        ones = [0] * 64
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            for j in range(64):
                nib = int(hx[j // 4], 16)
                ones[j] += (nib >> (j % 4)) & 1
        n = len(toks)
        bits = [1 if 2 * o > n else 0 for o in ones]
        return [sum(bits[16 * c + j] << j for j in range(16)) for c in range(4)]

    sigs = {r.doc_id: sig_chunks(r.text) for r in rows}
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if any(sigs[a][c] == sigs[b][c] for c in range(4)):
                h = sum(bin(sigs[a][c] ^ sigs[b][c]).count("1") for c in range(4))
                if h <= 3:
                    want[(a, b)] = h
    assert got == want, (got, want)
    assert got.get((1, 2)) == 0  # exact duplicate: all 64 bits agree


def test_simhash_hamming(docs):
    sigs = {r.doc_id: r.s for r in docs.select("doc_id", D.simhash64("text").alias("s")).collect()}
    assert sigs[1] == sigs[2]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])


def test_simhash_candidates(docs):
    got = {(r.doc_a, r.doc_b) for r in D.simhash_candidates(docs, max_hamming=10).collect()}
    assert (1, 2) in got
    assert not any((a == 4 or b == 4) for a, b in got)


# ---------- text analysis ----------

def test_token_count_and_fingerprint(spark):
    df = spark.createDataFrame([Row(text="Hello,  World! hello")])
    got = df.select(
        T.token_count("text").alias("n"),
        T.fingerprint("text").alias("fp"),
        T.fingerprint(F.lit("  hello,  world! HELLO ")).alias("fp2"),
        T.fingerprint(F.lit("entirely different")).alias("fp3"),
    ).first()
    assert got.n == 3
    assert got.fp == got.fp2  # normalization: case/whitespace-insensitive
    assert got.fp != got.fp3


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [Row(id="en", text="the cat and the dog are in the house with a bird"),
         Row(id="xx", text="zzz qqq kkk vvv www yyy xxx uuu")]
    )
    got = {r.id: r.lang for r in df.select("id", T.language_id("text").alias("lang")).collect()}
    assert got["en"] == "en"
    assert got["xx"] != "en"


def test_quality_features_schema(docs):
    out = T.quality_features(docs)
    for c in ["q_n_chars", "q_n_tokens", "q_punct_ratio", "q_en_marker_ratio", "q_keep"]:
        assert c in out.columns
    r = {x.doc_id: x for x in out.collect()}[1]
    assert r.q_n_tokens > 10 and 0 <= r.q_en_marker_ratio <= 1
    assert r.q_keep is True  # clean English prose passes the keep heuristics


# ---------- similarity search ----------

@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 16)).astype("float32")
    return (
        spark.createDataFrame(
            [Row(id=i, embedding=[float(x) for x in vecs[i]]) for i in range(40)]
        ),
        vecs,
    )


def test_cosine_topk_matches_numpy(embeddings):
    df, vecs = embeddings
    k = 5
    out = cosine_topk(df, k=k, id_col="id", vec_col="embedding")
    got: dict[int, list[int]] = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(40):
        order = np.argsort(-sims[q])
        expect = [int(i) for i in order if i != q][:k]
        mine = [nid for _, nid in sorted(got[q])]
        assert mine == expect, f"query {q}"


def test_lsh_topk_recall(embeddings):
    df, vecs = embeddings
    k = 3
    exact = cosine_topk(df, k=k, id_col="id", vec_col="embedding")
    # 40 vectors: narrow buckets (2^4) x 8 tables so candidates collide
    approx = lsh_topk(df, k=k, num_tables=8, nbits=4, id_col="id", vec_col="embedding")
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # bucketed ANN: meaningful overlap with exact top-k, never empty
    assert len(a & e) / len(e) >= 0.3
    assert all(q is not None for q, _ in a)


def test_embed_dup_exact_and_lsh(embeddings):
    from uofi_payroll_etl_main_spark.llm.similarity import embed_dup_lsh, embed_dup_pairs

    df, vecs = embeddings
    import numpy as np

    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    thr = 0.3
    expect = {(a, b) for a in range(40) for b in range(a + 1, 40) if round(sims[a, b], 6) >= thr}
    got = {(r.id_a, r.id_b) for r in embed_dup_pairs(df, threshold=thr, id_col="id").collect()}
    assert got == expect
    approx = {(r.id_a, r.id_b) for r in
              embed_dup_lsh(df, threshold=thr, num_tables=8, nbits=4, id_col="id").collect()}
    assert approx <= expect          # exact verify: precision 1
    if expect:
        assert len(approx) / len(expect) >= 0.3


def test_ivf_topk_beats_lsh_recall(embeddings):
    from uofi_payroll_etl_main_spark.llm.similarity import cosine_topk, ivf_topk

    df, vecs = embeddings
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(df, k=3, id_col="id").collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in
           ivf_topk(df, k=3, n_centroids=8, n_probe=4, id_col="id").collect()}
    assert len(ivf & exact) / len(exact) >= 0.5  # probing half the cells


def test_ivf_kmeans_centroids_beat_sampling_on_skew(spark):
    """On a SKEWED corpus (one giant cluster, several tiny tight ones)
    hash-sampled centroids nearly all land in the big cluster, so tiny
    clusters share distant cells and their true neighbors escape the
    probe set.  k-means-trained centroids must recover recall."""
    import numpy as np

    from uofi_payroll_etl_main_spark.llm.similarity import ivf_topk

    rng = np.random.RandomState(7)
    dim = 16
    centers = rng.randn(9, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs, owner = [], []
    # cluster 0: 160 points; clusters 1..8: 5 points each (tight)
    for ci, n in [(0, 160)] + [(i, 5) for i in range(1, 9)]:
        for _ in range(n):
            v = centers[ci] + 0.05 * rng.randn(dim)
            vecs.append(v / np.linalg.norm(v))
            owner.append(ci)
    vecs = np.array(vecs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "id long, embedding array<float>",
    ).cache()

    sims = np.round(vecs @ vecs.T, 6)
    np.fill_diagonal(sims, -np.inf)
    ids = np.arange(len(vecs))
    exact = {(int(i), int(np.lexsort((ids, -sims[i]))[0])) for i in range(len(vecs))}

    def recall(mode):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(
                df, k=1, n_centroids=9, n_probe=2, id_col="id", centroids=mode
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_sample, r_kmeans = recall("sample"), recall("kmeans")
    assert r_kmeans > r_sample, (r_sample, r_kmeans)
    assert r_kmeans >= 0.9, r_kmeans


def test_ivf_candidates_unique_without_pair_dedup(embeddings):
    """r10: the IVF tiers dropped their dropDuplicates((query, neighbor))
    -- a corpus vector lives in exactly ONE cell, so a pair can only
    meet in one cogroup.  Pin the invariant the removal rests on: no
    duplicate output pairs, and per-query ranks stay dense 1..n."""
    from collections import Counter

    from uofi_payroll_etl_main_spark.llm.similarity import ivf_pq_topk, ivf_topk

    df, _vecs = embeddings
    for rows in (
        ivf_topk(df, k=3, n_centroids=8, n_probe=8, id_col="id").collect(),
        ivf_pq_topk(
            df, k=3, n_centroids=8, n_probe=8, m_subvectors=4, id_col="id"
        ).collect(),
    ):
        pairs = Counter((r.query_id, r.neighbor_id) for r in rows)
        assert pairs and max(pairs.values()) == 1, pairs.most_common(3)
        by_q = Counter(r.query_id for r in rows)
        for q, n in by_q.items():
            ranks = sorted(r.rank for r in rows if r.query_id == q)
            assert ranks == list(range(1, n + 1)), (q, ranks)


def test_ivf_centroids_mode_validation(spark):
    import pytest as _pytest

    from uofi_payroll_etl_main_spark.llm.similarity import ivf_topk

    df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, embedding array<float>")
    with _pytest.raises(ValueError, match="centroids"):
        ivf_topk(df, centroids="bogus", id_col="id")


def test_cosine_topk_vectorized_matches_catalyst(embeddings):
    from uofi_payroll_etl_main_spark.llm.similarity import cosine_topk, cosine_topk_vectorized

    df, _ = embeddings
    a = sorted((r.query_id, r.rank, r.neighbor_id, r.similarity)
               for r in cosine_topk_vectorized(df, k=4, id_col="id").collect())
    b = sorted((r.query_id, r.rank, r.neighbor_id, r.similarity)
               for r in cosine_topk(df, k=4, id_col="id").collect())
    assert a == b


def test_cosine_topk_vectorized_slice_and_guard(embeddings):
    """query_slice keeps the driver-side query batch bounded and yields
    exactly the full self-mode rows restricted to the sliced query ids;
    max_query_rows hard-fails before collecting an oversized batch."""
    from uofi_payroll_etl_main_spark.llm.similarity import (
        cosine_topk_vectorized,
        query_hash_slice,
    )
    from pyspark.sql import functions as F

    df, _ = embeddings
    full = cosine_topk_vectorized(df, k=3, id_col="id")
    sliced = cosine_topk_vectorized(df, k=3, id_col="id", query_slice=(1, 4))
    slice_ids = {
        r.id for r in df.select("id").filter(query_hash_slice(F.col("id"), 4) == 1).collect()
    }
    assert slice_ids  # the fixture must actually populate slice 1
    expect = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.similarity)
        for r in full.collect()
        if r.query_id in slice_ids
    )
    got = sorted((r.query_id, r.rank, r.neighbor_id, r.similarity) for r in sliced.collect())
    assert got == expect
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_vectorized(df, k=3, id_col="id", max_query_rows=10)


def test_jaccard_hot_shingle_guard(docs):
    # guard off: exact pairs; guard on with a huge cap: identical output
    exact = {(r.doc_a, r.doc_b) for r in D.jaccard_pairs(docs, threshold=0.5).collect()}
    capped = {(r.doc_a, r.doc_b) for r in
              D.jaccard_pairs(docs, threshold=0.5, max_shingle_docs=1000).collect()}
    assert capped == exact
    # cap of 1 removes every shared shingle -> no pairs can meet
    none = D.jaccard_pairs(docs, threshold=0.1, max_shingle_docs=1).collect()
    assert none == []


def test_duplicate_clusters_components(spark):
    from pyspark.sql import Row

    nodes = spark.createDataFrame([Row(doc_id=i) for i in [1, 2, 3, 4, 5, 9]])
    # chain 1-2-3 (one component), pair 4-5, singleton 9
    edges = spark.createDataFrame(
        [Row(doc_a=2, doc_b=3), Row(doc_a=1, doc_b=2), Row(doc_a=4, doc_b=5)]
    )
    got = {r.doc_id: r.cluster_id for r in D.duplicate_clusters(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9}


def test_duplicate_clusters_long_chain_converges(spark):
    from pyspark.sql import Row

    n = 12  # diameter > 1 round: exercises the fixpoint loop
    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(n)])
    edges = spark.createDataFrame([Row(doc_a=i, doc_b=i + 1) for i in range(n - 1)])
    got = {r.doc_id: r.cluster_id for r in D.duplicate_clusters(nodes, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_minhash_arrow_tier_bit_identical(docs):
    hof = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    arrow = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(docs, threshold=0.5, use_arrow=True).collect()
    }
    assert hof == arrow and (1, 2) in arrow
    sig_h = {
        r.doc: tuple(r.sig)
        for r in docs.select(
            F.col("doc_id").alias("doc"), D.minhash_signature("text").alias("sig")
        ).collect()
    }
    sig_a = {r.doc: tuple(r.sig) for r in D.minhash_signatures_arrow(docs).collect()}
    assert sig_h == sig_a


def test_tfidf_topk_hand_computed(spark):
    import math

    d = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple banana apple"),
            Row(doc_id=2, text="banana cherry"),
            Row(doc_id=3, text="  "),  # empty after trim: contributes to N only
        ]
    )
    out = {(r.doc_id, r.term): (r.tf, r.tfidf, r.rank) for r in T.tfidf_topk(d, k=3).collect()}
    n = 3
    idf = lambda df_t: math.log((n + 1.0) / (df_t + 1.0)) + 1.0
    assert out[(1, "apple")] == (2, round(2 * idf(1), 6), 1)
    assert out[(1, "banana")] == (1, round(1 * idf(2), 6), 2)
    assert out[(2, "cherry")][0] == 1 and out[(2, "cherry")][2] == 1
    assert not any(doc == 3 for doc, _ in out)  # empty doc emits no terms


def test_tfidf_tiebreak_term_asc(spark):
    d = spark.createDataFrame([Row(doc_id=1, text="zebra apple")])
    got = [(r.term, r.rank) for r in T.tfidf_topk(d, k=2).orderBy("rank").collect()]
    assert got == [("apple", 1), ("zebra", 2)]  # equal tfidf: term asc wins


def test_top_ngrams_bigram_counts(spark):
    d = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c"),
            Row(doc_id=2, text="a B"),  # case-folds to the same bigram
            Row(doc_id=3, text="solo"),  # shorter than n: no grams
        ]
    )
    got = [(r.ngram, r.cnt) for r in T.top_ngrams(d, n=2, k=10).collect()]
    assert got == [("a b", 2), ("b c", 1)]


def test_top_ngrams_trigram_and_limit(spark):
    d = spark.createDataFrame([Row(doc_id=1, text="x y z w")])
    got = [(r.ngram, r.cnt) for r in T.top_ngrams(d, n=3, k=1).collect()]
    assert got == [("x y z", 1)]  # limit honored; gram asc tie-break


def test_fuzzy_pairs_blocked_semantics(spark):
    d = spark.createDataFrame(
        [
            # 1 and 2: same 8-char block, small edit inside the head
            Row(doc_id=1, text="alpha bravo charlie delta echo"),
            Row(doc_id=2, text="alpha bravo charlie delta echox"),
            # 3: edit inside the FIRST 8 chars: lands in another block,
            # never compared (documented blocking trade-off)
            Row(doc_id=3, text="alphaX bravo charlie delta echo"),
            # 4: same block as 1/2 but beyond max_dist
            Row(doc_id=4, text="alpha br" + "z" * 50),
        ]
    )
    got = {(r.doc_a, r.doc_b): r.dist for r in D.fuzzy_pairs_blocked(d).collect()}
    assert set(got) == {(1, 2)} and got[(1, 2)] == 1


def test_compression_ratio_signal(spark):
    rep = "spam " * 200  # boilerplate: compresses hard
    nat = BASE + " " + FAR  # varied text: compresses less
    d = spark.createDataFrame([Row(doc_id=1, text=rep), Row(doc_id=2, text=nat)])
    got = {r.doc_id: r for r in D.compression_ratio(d).collect()}
    assert got[1].n_raw == len(rep.encode()) and got[2].n_raw == len(nat.encode())
    assert got[1].ratio < 0.1 < got[2].ratio <= 1.2
    # deterministic across runs and partitionings
    again = {r.doc_id: r.ratio for r in D.compression_ratio(d.repartition(4)).collect()}
    assert again == {k: v.ratio for k, v in got.items()}


def test_bigram_logprob_hand_computed(spark):
    import math

    d = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b"),
            Row(doc_id=2, text="a b c"),
            Row(doc_id=3, text="solo"),  # no bigrams: absent from output
        ]
    )
    got = {r.doc_id: (r.n_bigrams, r.avg_logprob) for r in T.bigram_logprob(d).collect()}
    # corpus: c("a b")=2, c("b c")=1; unigrams: a=2, b=2, c=1, solo=1
    lp_ab = round(math.log(2 / 2), 9)  # 0.0
    lp_bc = round(math.log(1 / 2), 9)
    assert got[1] == (1, round(lp_ab / 1, 6))
    assert got[2] == (2, round((lp_ab + lp_bc) / 2, 6))
    assert 3 not in got


def test_mean_embedding_hand_computed(spark):
    from uofi_payroll_etl_main_spark.llm.similarity import mean_embedding

    d = spark.createDataFrame(
        [
            Row(vec_id=1, label=0, embedding=[1.0, 2.0]),
            Row(vec_id=2, label=0, embedding=[3.0, 6.0]),
            Row(vec_id=3, label=1, embedding=[5.0, 5.0]),
        ]
    )
    got = {r.label: (r.n_vecs, list(r.centroid)) for r in mean_embedding(d).collect()}
    assert got == {0: (2, [2.0, 4.0]), 1: (1, [5.0, 5.0])}


def test_repetition_signals_hand_computed(spark):
    from uofi_payroll_etl_main_spark.llm.text import repetition_signals

    rows = [
        (1, "a a a a"),        # all 2-grams 'a a' x3, all 3-grams dup
        (2, "w x y z"),        # no repeats at all
        (3, "q"),              # too short for any gram
        (4, ""),               # blank
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert out[1]["rep_2gram_frac"] == 1.0
    assert out[1]["rep_3gram_frac"] == 1.0
    assert out[2]["rep_2gram_frac"] == 0.0
    assert out[3]["rep_2gram_frac"] == 0.0 and out[3]["rep_3gram_frac"] == 0.0
    assert out[4]["rep_2gram_frac"] == 0.0
    # partial repetition: 'b c' twice out of 4 2-grams (all len 3) -> 6/12
    df2 = spark.createDataFrame([(9, "b c d b c")], "doc_id long, text string")
    r = repetition_signals(df2).collect()[0]
    assert abs(r["rep_2gram_frac"] - 0.5) < 1e-12


def test_oov_rate_hand_computed(spark):
    from uofi_payroll_etl_main_spark.llm.text import oov_rate

    rows = [
        (1, "a a a b"),   # corpus: a x4 (in-vocab for size 1), b,c,d rarer
        (2, "a b c"),
        (3, "d"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in oov_rate(df, vocab_size=1).collect()}
    # vocab = {'a'} (count 5); doc1: 1 OOV of 4; doc3: all OOV; blank: 0
    assert out[1]["n_tokens"] == 4 and out[1]["n_oov"] == 1
    assert abs(out[1]["oov_frac"] - 0.25) < 1e-12
    assert out[2]["n_oov"] == 2
    assert out[3]["oov_frac"] == 1.0
    assert out[4]["n_tokens"] == 0 and out[4]["oov_frac"] == 0.0


def test_containment_pairs_catches_embedded_doc(spark):
    """A short doc fully inside a long one: containment 1.0 even though
    Jaccard is far below any near-dup threshold."""
    long_words = " ".join(f"w{i}" for i in range(60))
    short_words = " ".join(f"w{i}" for i in range(10, 18))  # inside long
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=long_words),
            Row(doc_id=2, text=short_words),
            Row(doc_id=3, text="totally unrelated content over here now"),
        ]
    )
    pairs = {(r.doc_a, r.doc_b): r for r in D.containment_pairs(docs, threshold=0.8).collect()}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r.containment == 1.0 and r.cont_b == 1.0 and r.cont_a < 0.2
    jac = {(p.doc_a, p.doc_b) for p in D.jaccard_pairs(docs, threshold=0.4).collect()}
    assert (1, 2) not in jac  # the case Jaccard misses
    assert not any(3 in p for p in pairs)


def test_shuffle_index_is_permutation_and_matches_naive(spark):
    from uofi_payroll_etl_main_spark.llm.curation import shuffle_index

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    out = shuffle_index(df, "doc_id").collect()
    pos = sorted(r.shuffle_pos for r in out)
    assert pos == list(range(500))  # exact 0..n-1 permutation
    # matches the naive single-window definition
    naive = {
        r.doc_id: i
        for i, r in enumerate(
            df.select(
                "doc_id",
                F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit("0"))).alias("ok"),
            )
            .orderBy("ok", "doc_id")
            .collect()
        )
    }
    got = {r.doc_id: r.shuffle_pos for r in out}
    assert got == naive
    # different seed -> different permutation (overwhelmingly)
    other = {r.doc_id: r.shuffle_pos for r in shuffle_index(df, "doc_id", seed="1").collect()}
    assert other != got


def test_quantize_embeddings_error_bound_and_zero_vector(spark):
    from uofi_payroll_etl_main_spark.llm.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.5, -1.0, 0.25, 0.0]),
            Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),
        ]
    )
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    r1 = rows[1]
    assert max(abs(q) for q in r1.qvec) == 127  # max component hits full range
    for v, q in zip([0.5, -1.0, 0.25, 0.0], r1.qvec):
        assert abs(v - q * r1.qscale) <= r1.qscale / 2 + 1e-12
    assert list(rows[2].qvec) == [0, 0, 0, 0] and rows[2].qscale == 1.0


def test_cosine_topk_quantized_recall_vs_exact(spark, sf_dir):
    from uofi_payroll_etl_main_spark.io import load_table
    from uofi_payroll_etl_main_spark.llm.similarity import (
        cosine_topk,
        cosine_topk_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    exact = cosine_topk(emb, k=5).collect()
    quant = cosine_topk_quantized(emb, k=5).collect()
    want = {}
    got = {}
    for r in exact:
        want.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in quant:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(want[q] & got.get(q, set())) for q in want)
    total = sum(len(v) for v in want.values())
    assert hits / total >= 0.9  # int8 rounding barely moves cosine ranks


def test_jaccard_prefix_equals_naive_join(spark, sf_dir):
    """Prefix filtering is lossless: identical pair set, intersections
    and scores to the exhaustive shingle join, on real documents."""
    from uofi_payroll_etl_main_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    naive = {
        (r.doc_a, r.doc_b): (r.inter, round(r.jaccard, 9))
        for r in D.jaccard_pairs(docs, threshold=0.4).collect()
    }
    pref = {
        (r.doc_a, r.doc_b): (r.inter, round(r.jaccard, 9))
        for r in D.jaccard_pairs_prefix(docs, threshold=0.4).collect()
    }
    assert pref == naive and len(naive) > 0


def test_jaccard_prefix_integral_threshold_boundary(spark):
    """t*|x| exactly integral is the float-hazard case: the epsilon
    nudge must keep the pair (ceil can only err toward a LARGER
    prefix)."""
    # two docs of 5 shingles sharing exactly 4 -> J = 4/6 = 0.667
    a = " ".join(f"w{i}" for i in range(7))        # 5 3-gram shingles
    b = " ".join(f"w{i}" for i in range(1, 8))     # shares 4 of them
    docs = spark.createDataFrame([Row(doc_id=1, text=a), Row(doc_id=2, text=b)])
    got = D.jaccard_pairs_prefix(docs, threshold=0.6).collect()
    assert len(got) == 1 and abs(got[0].jaccard - 4 / 6) < 1e-9


def test_jaccard_prefix_candidate_filters_keep_exact_boundary_pair(spark):
    """The PPJoin length and positional candidate filters at their EXACT
    boundaries: A (2 shingles) inside B (5 shingles) gives J = 2/5 = t,
    where the length filter's t*max = 0.4*5 floats to 2.0000000000000004
    (> min = 2 without the -1e-9 nudge -- the pair would be silently
    LOST) and the positional bound t/(1+t)*(|A|+|B|) = 2.0 equals the
    first common shingle's overlap ubound exactly.  Both filters must
    keep the pair, and the tier must still equal the naive join."""
    a = " ".join(f"w{i}" for i in range(4))   # 2 shingles, both shared
    b = " ".join(f"w{i}" for i in range(7))   # 5 shingles
    docs = spark.createDataFrame([Row(doc_id=1, text=a), Row(doc_id=2, text=b)])
    pref = D.jaccard_pairs_prefix(docs, threshold=0.4).collect()
    naive = D.jaccard_pairs(docs, threshold=0.4).collect()
    assert len(pref) == 1 and abs(pref[0].jaccard - 0.4) < 1e-9
    assert {(r.doc_a, r.doc_b, r.inter) for r in pref} == {
        (r.doc_a, r.doc_b, r.inter) for r in naive
    }


def test_substring_search_matches_plain_contains(spark, sf_dir):
    from uofi_payroll_etl_main_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = sorted(r.doc_id for r in T.substring_search(docs, "fast merge").collect())
    want = sorted(
        r.doc_id for r in docs.filter(F.col("text").contains("fast merge")).collect()
    )
    assert got == want and len(want) > 0


def test_substring_search_trigram_scatter_is_filtered(spark):
    """Doc holding all pattern trigrams non-contiguously must be
    candidate-listed but verified OUT."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="xxabcdexx"),        # contains 'abcde'
            Row(doc_id=2, text="abc bcd cde"),      # all trigrams, scattered
            Row(doc_id=3, text="nothing here"),
        ]
    )
    got = sorted(r.doc_id for r in T.substring_search(docs, "abcde").collect())
    assert got == [1]


def test_substring_search_short_pattern_falls_back(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="ab cd"), Row(doc_id=2, text="zz")]
    )
    got = sorted(r.doc_id for r in T.substring_search(docs, "ab").collect())
    assert got == [1]


def test_containment_prefix_equals_naive(spark, sf_dir):
    from uofi_payroll_etl_main_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    naive = {
        (r.doc_a, r.doc_b): (r.inter, round(r.containment, 9))
        for r in D.containment_pairs(docs, threshold=0.6).collect()
    }
    pref = {
        (r.doc_a, r.doc_b): (r.inter, round(r.containment, 9))
        for r in D.containment_pairs_prefix(docs, threshold=0.6).collect()
    }
    assert pref == naive and len(naive) > 0


def test_containment_prefix_finds_embedded_short_doc(spark):
    """The asymmetric case prefix-Jaccard would miss: embedded short
    doc, low Jaccard, containment 1.0 -- the smaller doc's prefix must
    reach the long doc's full posting list."""
    long_words = " ".join(f"w{i}" for i in range(60))
    short_words = " ".join(f"w{i}" for i in range(10, 18))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=long_words), Row(doc_id=2, text=short_words)]
    )
    got = D.containment_pairs_prefix(docs, threshold=0.9).collect()
    assert len(got) == 1 and got[0].containment == 1.0


def test_weighted_sample_topk_deterministic_and_weight_biased(spark):
    from uofi_payroll_etl_main_spark.llm.curation import weighted_sample_topk

    # one group: 50 light rows (w=1) + 50 heavy rows (w=100)
    rows = [Row(g="a", k=i, w=1.0) for i in range(50)] + [
        Row(g="a", k=100 + i, w=100.0) for i in range(50)
    ]
    df = spark.createDataFrame(rows)
    out1 = sorted(r.k for r in weighted_sample_topk(df, "g", "k", "w", k=20).collect())
    out2 = sorted(r.k for r in weighted_sample_topk(df, "g", "k", "w", k=20).collect())
    assert out1 == out2 and len(out1) == 20      # deterministic, exactly k
    heavy = sum(1 for k in out1 if k >= 100)
    assert heavy >= 15                            # weight-100 rows dominate
    # zero/negative weights are excluded entirely
    z = spark.createDataFrame([Row(g="z", k=1, w=0.0), Row(g="z", k=2, w=-3.0)])
    assert weighted_sample_topk(z, "g", "k", "w", k=5).count() == 0


def test_kmeans_invariants(spark, sf_dir):
    """Lloyd contract: full assignment, k clusters, every point nearer
    (in the final-iteration metric) to its own centroid than to any
    other, and the whole thing reproducible run-to-run."""
    import numpy as np

    from uofi_payroll_etl_main_spark.io import load_table
    from uofi_payroll_etl_main_spark.llm.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    assigned, cents = kmeans_assign(emb, k=8, n_iter=3)
    rows_a = assigned.collect()
    assert len(rows_a) == n
    assert cents.shape == (8, 64)

    # final assignment used the PRE-update centroids; rebuild them by
    # replaying the last update in numpy from the raw vectors
    raw = {r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64)
           for r in emb.select("vec_id", "embedding").collect()}
    amap = {r["vec_id"]: r["cluster"] for r in rows_a}
    # invariant: argmin over the RETURNED centroids re-derives a valid
    # clustering whose inertia is <= the init clustering's (descent)
    m = np.array([raw[i] for i in sorted(raw)])
    a = np.array([amap[i] for i in sorted(raw)])
    d = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    own = d[np.arange(len(m)), a]
    best = d.min(axis=1)
    # own-centroid distance is within float noise of the best centroid
    # for >= 97% of points (the final update moved centroids after the
    # last assignment, so a small boundary fraction may flip)
    frac_opt = float((own <= best + 1e-9).mean())
    assert frac_opt >= 0.9, frac_opt

    again, cents2 = kmeans_assign(emb, k=8, n_iter=3)
    assert {(r["vec_id"], r["cluster"]) for r in again.collect()} == set(amap.items())
    assert np.allclose(cents, cents2)


def test_semantic_dedup_matches_numpy_replica(spark, sf_dir):
    """The greedy keep/shadow decisions equal a straight NumPy replay
    over the operator's own cluster assignment and centroids."""
    import numpy as np

    from uofi_payroll_etl_main_spark.io import load_table
    from uofi_payroll_etl_main_spark.llm.similarity import (
        ROUND_DIGITS,
        kmeans_assign,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    thr = 0.25
    out = semantic_dedup(emb, threshold=thr, k=6, n_iter=2).collect()
    assigned, cents = kmeans_assign(emb, k=6, n_iter=2)
    amap = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    raw = {r["vec_id"]: np.array(list(r["embedding"]), dtype=np.float64)
           for r in emb.select("vec_id", "embedding").collect()}

    got = {r["vec_id"]: (r["cluster"], r["keep"], r["exemplar_id"]) for r in out}
    assert set(got) == set(raw)
    assert any(not v[1] for v in got.values())  # some shadowing happened

    for cid in range(6):
        ids = sorted(i for i, c in amap.items() if c == cid)
        if not ids:
            continue
        m = np.array([raw[i] for i in ids])
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        d2 = ((m - cents[cid][None, :]) ** 2).sum(axis=1)
        order = np.lexsort((np.array(ids), np.round(d2, ROUND_DIGITS)))
        kept, exemplar = [], {}
        for i in order:
            shadow = -1
            if kept:
                sims = np.round(mn[kept] @ mn[i], ROUND_DIGITS)
                hits = np.nonzero(sims >= thr)[0]
                if len(hits):
                    shadow = kept[int(hits[0])]
            if shadow < 0:
                kept.append(int(i))
                exemplar[int(i)] = int(i)
            else:
                exemplar[int(i)] = shadow
        for pos, i in enumerate(ids):
            assert got[i][0] == cid
            assert got[i][1] == (exemplar[pos] == pos), (cid, i)
            assert got[i][2] == ids[exemplar[pos]], (cid, i)


def test_gopher_rules_match_python_model(spark):
    import re as _re

    from uofi_payroll_etl_main_spark.llm.text import GOPHER_STOPWORDS, gopher_rules

    data = [
        (1, "the cat sat on the mat with a hat and that was that to be fair " * 3),
        (2, "short text"),                          # too few words
        (3, "### ## #tag " + "the of and to be that have with word " * 5),  # symbols
        (4, "- bullet one\n- bullet two\n- bullet three"),  # all bullet lines
        (5, "trailing...\nalso trailing...\nthe of and plain line to be have with " * 1),
        (6, "12 34 56 78 90 " * 10 + "the of"),     # numeric words, low alpha frac
        (7, ""),                                     # empty
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}

    for doc_id, text in data:
        words = [w for w in _re.split(r"\s+", text.strip()) if w] if text.strip() else []
        lines = text.split("\n")
        n_words = len(words)
        mean_wl = round(sum(len(w) for w in words) / n_words, 6) if n_words else 0.0
        sym = round(
            sum(1 for w in words if "#" in w or "..." in w or "…" in w) / n_words, 6
        ) if n_words else 0.0
        bullet = round(
            sum(1 for l in lines if l.startswith(("-", "*", "•"))) / len(lines), 6
        )
        ell = round(sum(1 for l in lines if l.endswith(("...", "…"))) / len(lines), 6)
        alpha = round(
            sum(1 for w in words if _re.search("[A-Za-z]", w)) / n_words, 6
        ) if n_words else 0.0
        stops = len({w.lower() for w in words} & set(GOPHER_STOPWORDS))
        keep = (
            30 <= n_words <= 100000
            and 3.0 <= mean_wl <= 10.0
            and sym <= 0.1
            and bullet <= 0.9
            and ell <= 0.3
            and alpha >= 0.8
            and stops >= 2
        )
        g = got[doc_id]
        assert g["n_words"] == n_words, doc_id
        assert abs(g["mean_word_len"] - mean_wl) < 1e-9, doc_id
        assert abs(g["symbol_ratio"] - sym) < 1e-9, doc_id
        assert abs(g["bullet_line_frac"] - bullet) < 1e-9, doc_id
        assert abs(g["ellipsis_line_frac"] - ell) < 1e-9, doc_id
        assert abs(g["alpha_word_frac"] - alpha) < 1e-9, doc_id
        assert g["stop_hits"] == stops, doc_id
        assert g["keep"] == keep, doc_id


def test_gopher_rules_discriminate_on_corpus(spark, sf_dir):
    from uofi_payroll_etl_main_spark.llm.text import gopher_rules

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = gopher_rules(d, min_stop_hits=1)  # registry's corpus-adapted setting
    kept = out.filter("keep").count()
    total = out.count()
    assert 0 < kept < total  # rules actually split the corpus


class TestBpeTrain:
    @staticmethod
    def _reference_bpe(word_counts: dict, n_merges: int, min_pair_count: int = 2):
        """Independent pure-Python BPE (Sennrich alg. 1) with the same
        tie-break (count desc, pair lexicographic asc)."""
        vocab = {w: list(w) + ["</w>"] for w in word_counts}
        merges = []
        for rank in range(n_merges):
            pair_counts = {}
            for w, sym in vocab.items():
                for i in range(len(sym) - 1):
                    p = (sym[i], sym[i + 1])
                    pair_counts[p] = pair_counts.get(p, 0) + word_counts[w]
            if not pair_counts:
                break
            best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
            (a, b), cnt = best
            if cnt < min_pair_count:
                break
            merges.append((rank, a, b, a + b, cnt))
            for w, sym in vocab.items():
                out, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                vocab[w] = out
        return merges, vocab

    def test_matches_reference_on_crafted_corpus(self, spark):
        from collections import Counter

        from uofi_payroll_etl_main_spark.llm.text import bpe_train

        texts = [
            "low low low low low lower lower newest newest newest",
            "newest newest newest widest widest widest new new knew",
            "the theme then there the the anthem",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        wc = Counter(w for t in texts for w in t.split())
        exp_merges, exp_vocab = self._reference_bpe(dict(wc), n_merges=15)
        got_merges, got_words = bpe_train(df, n_merges=15)
        assert [
            (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in got_merges
        ] == exp_merges
        got_vocab = {r["w"]: list(r["symbols"]) for r in got_words.collect()}
        assert got_vocab == exp_vocab

    def test_greedy_leftmost_nonoverlapping(self, spark):
        from uofi_payroll_etl_main_spark.llm.text import bpe_train

        # 'aaaa' under merge (a,a): leftmost non-overlapping -> [aa, aa]
        df = spark.createDataFrame(
            [(1, "aaaa aaaa aaaa")], "doc_id long, text string"
        )
        merges, words = bpe_train(df, n_merges=1)
        assert merges[0]["left"] == "a" and merges[0]["right"] == "a"
        sym = words.collect()[0]["symbols"]
        assert sym == ["aa", "aa", "</w>"]

    def test_deterministic_across_runs(self, spark, sf_dir):
        from uofi_payroll_etl_main_spark.llm.text import bpe_train

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        m1, _ = bpe_train(d, n_merges=8)
        m2, _ = bpe_train(d, n_merges=8)
        assert m1 == m2
        assert len(m1) == 8  # corpus is rich enough for all 8 merges


class TestSubstringDedup:
    """Exact substring dedup (Lee et al. 2022): spans + strip."""

    PASSAGE = "the quick brown fox jumps over the lazy dog"  # 9 tokens

    def _corpus(self, spark):
        return spark.createDataFrame(
            [
                (1, "Intro words here. " + self.PASSAGE + " tail one"),
                (2, "Other start text goes now " + self.PASSAGE + " end words"),
                (3, "unique document with no repeats at all whatsoever today"),
                (4, self.PASSAGE + " and again " + self.PASSAGE),
            ],
            "doc_id long, text string",
        )

    def test_spans_keep_first_spares_global_first_copy(self, spark):
        from uofi_payroll_etl_main_spark.llm.dedup import substring_dup_spans

        spans = sorted(
            (r.doc_id, r.span_start, r.span_end)
            for r in substring_dup_spans(self._corpus(spark), k=4).collect()
        )
        # doc 1 holds the (doc_id, start)-first copy -> spared; doc 2's
        # copy starts at token 5; doc 4 has both copies removed (its
        # boundary windows "dog and again the" are unique, so the two
        # spans stay separate maximal islands)
        assert spans == [(2, 5, 14), (4, 0, 9), (4, 11, 20)]

    def test_spans_keep_first_false_marks_all_copies(self, spark):
        from uofi_payroll_etl_main_spark.llm.dedup import substring_dup_spans

        spans = sorted(
            (r.doc_id, r.span_start, r.span_end)
            for r in substring_dup_spans(
                self._corpus(spark), k=4, keep_first=False
            ).collect()
        )
        assert spans == [(1, 3, 12), (2, 5, 14), (4, 0, 9), (4, 11, 20)]

    def test_adjacent_windows_merge_to_maximal_span(self, spark):
        from uofi_payroll_etl_main_spark.llm.dedup import substring_dup_spans

        # the shared run is 6 tokens -> three overlapping 4-windows in
        # each doc must merge into ONE maximal span of 6 tokens
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "x alpha beta gamma delta epsilon zeta y"),
            ],
            "doc_id long, text string",
        )
        spans = [
            (r.doc_id, r.span_start, r.span_end, r.n_span_tokens)
            for r in substring_dup_spans(docs, k=4).collect()
        ]
        assert spans == [(2, 1, 7, 6)]

    def test_strip_removes_spans_and_counts(self, spark):
        from uofi_payroll_etl_main_spark.llm.dedup import substring_strip

        out = {
            r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
            for r in substring_strip(self._corpus(spark), k=4).collect()
        }
        assert out[1] == (
            "intro words here. " + self.PASSAGE + " tail one",
            14,
            0,
        )
        assert out[2] == ("other start text goes now end words", 16, 9)
        assert out[3][2] == 0  # untouched
        assert out[4] == ("and again", 20, 18)

    def test_strip_fully_duplicated_doc_yields_empty_string(self, spark):
        from uofi_payroll_etl_main_spark.llm.dedup import substring_strip

        docs = spark.createDataFrame(
            [(1, self.PASSAGE), (2, self.PASSAGE), (3, self.PASSAGE)],
            "doc_id long, text string",
        )
        out = {r.doc_id: (r.text_clean, r.n_removed) for r in
               substring_strip(docs, k=4).collect()}
        assert out[1] == (self.PASSAGE, 0)  # first copy survives
        assert out[2] == ("", 9)
        assert out[3] == ("", 9)

    def test_short_docs_never_match(self, spark):
        from uofi_payroll_etl_main_spark.llm.dedup import substring_strip

        docs = spark.createDataFrame(
            [(1, "same tiny text"), (2, "same tiny text")],
            "doc_id long, text string",
        )
        out = substring_strip(docs, k=4).collect()  # 3 tokens < k
        assert all(r.n_removed == 0 for r in out)


class TestPerplexityBuckets:
    def test_buckets_partition_by_fluency(self, spark):
        from uofi_payroll_etl_main_spark.llm.text import perplexity_buckets

        # 9 docs in one language: three share a common fluent phrasing
        # (high bigram probability under the corpus LM), three are
        # mid, three unique-ish word salad (low), plus a 1-token doc
        common = "the cat sat on the mat and the cat sat"
        rows = [(i, common, "en") for i in range(3)]
        rows += [(10 + i, f"the cat ran near a mat {i}", "en") for i in range(3)]
        rows += [
            (20, "zebra quark bowl seven xylophone", "en"),
            (21, "umbrella ninety plasma forest keel", "en"),
            (22, "glyph mango turbine eleven crater", "en"),
            (30, "single", "en"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        out = {r.doc_id: r for r in perplexity_buckets(docs).collect()}
        assert len(out) == 10
        assert out[30].bucket == "unscored" and out[30].avg_logprob is None
        # the three common-phrasing docs out-rank the word salad
        heads = {d for d, r in out.items() if r.bucket == "head"}
        tails = {d for d, r in out.items() if r.bucket == "tail"}
        assert heads == {0, 1, 2}
        assert tails == {20, 21, 22}
        assert {d for d, r in out.items() if r.bucket == "middle"} == {10, 11, 12}

    def test_bucketing_is_per_language(self, spark):
        from uofi_payroll_etl_main_spark.llm.text import perplexity_buckets

        # one doc per language: n=1 -> percent_rank 0 -> every doc is
        # its language's head, regardless of cross-language scores
        docs = spark.createDataFrame(
            [(1, "hola mundo hola mundo", "es"), (2, "hello world hello world", "en")],
            "doc_id long, text string, lang string",
        )
        out = perplexity_buckets(docs).collect()
        assert {r.bucket for r in out} == {"head"}


class TestChatPrep:
    def test_synth_turn_structure(self, spark):
        from uofi_payroll_etl_main_spark.llm.chat import synth_conversations

        # 19 tokens -> turns of 8/8/3, roles user/assistant/user
        text = " ".join(f"w{i}" for i in range(19))
        docs = spark.createDataFrame([(1, text), (2, "")], "doc_id long, text string")
        out = {r.doc_id: r.turns for r in synth_conversations(docs).collect()}
        t = out[1]
        assert [x.role for x in t] == ["user", "assistant", "user"]
        assert t[0].content == " ".join(f"w{i}" for i in range(8))
        assert t[2].content == "w16 w17 w18"
        assert out[2] == []

    def test_render_chatml_template(self, spark):
        from uofi_payroll_etl_main_spark.llm.chat import render_chatml, synth_conversations

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h i j"), (2, "")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in render_chatml(synth_conversations(docs)).collect()}
        assert out[1].n_turns == 2
        assert out[1].rendered == (
            "<|im_start|>user\na b c d e f g h<|im_end|>\n"
            "<|im_start|>assistant\ni j<|im_end|>\n"
        )
        assert out[2].n_turns == 0 and out[2].rendered == ""

    def test_conversation_stats_share(self, spark):
        from uofi_payroll_etl_main_spark.llm.chat import (
            conversation_stats,
            synth_conversations,
        )

        # 12 tokens: user 8, assistant 4 -> share 4/12
        docs = spark.createDataFrame(
            [(1, " ".join("x" * 1 for _ in range(12))), (2, "")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in conversation_stats(synth_conversations(docs)).collect()}
        r = out[1]
        assert (r.n_turns, r.n_user_tokens, r.n_assistant_tokens) == (2, 8, 4)
        assert r.assistant_share == round(4 / 12, 6)
        assert out[2].n_turns == 0 and out[2].assistant_share is None


def test_encoding_quality_counts_mojibake_and_replacement(spark):
    from uofi_payroll_etl_main_spark.llm.text import encoding_quality

    rows = [
        (1, "clean english text here"),
        (2, "lossy \ufffd decode \ufffd twice"),
        (3, "caf\u00c3\u00a9 and \u00e2\u20ac\u0153quoted\u00e2\u20ac"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in encoding_quality(docs).collect()}
    assert out[1].n_replacement == 0 and out[1].n_mojibake == 0
    assert out[2].n_replacement == 2 and out[2].bad_ratio > 0
    assert out[3].n_mojibake == 3  # one A-tilde digraph + two curly-quote prefixes
    assert out[4].n_chars == 0 and out[4].bad_ratio == 0.0


def test_ivf_pq_refine_recovers_recall(spark):
    """IVF-PQ on a clustered corpus: raw ADC scores are coarse (m
    subvector codebooks), so exact refinement of the ADC candidate set
    must recover recall toward IVF-Flat levels; codes are what shuffles
    (m smallints per vector), never the full embedding."""
    import numpy as np

    from uofi_payroll_etl_main_spark.llm.similarity import (
        cosine_topk,
        ivf_pq_topk,
    )

    rng = np.random.RandomState(11)
    dim = 32
    centers = rng.randn(6, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for ci in range(6):
        for _ in range(30):
            v = centers[ci] + 0.15 * rng.randn(dim)
            vecs.append(v / np.linalg.norm(v))
    vecs = np.array(vecs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "id long, embedding array<float>",
    ).cache()

    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(df, k=3, id_col="id").collect()
    }

    def recall(refine):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_pq_topk(
                df, k=3, n_centroids=6, n_probe=3, m_subvectors=8,
                n_codes=16, refine_factor=refine, id_col="id",
            ).collect()
        }
        return len(got & exact) / len(exact)

    r_raw, r_refined = recall(0), recall(3)
    assert r_refined >= r_raw, (r_raw, r_refined)
    assert r_refined >= 0.7, r_refined
    # ranks are dense 1..k per query
    out = ivf_pq_topk(
        df, k=3, n_centroids=6, n_probe=3, m_subvectors=8, n_codes=16,
        refine_factor=3, id_col="id",
    )
    ranks = {}
    for r in out.collect():
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


def test_ivf_pq_validation(spark):
    import pytest as _pytest

    from uofi_payroll_etl_main_spark.llm.similarity import ivf_pq_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0])], "id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="must divide"):
        ivf_pq_topk(df, m_subvectors=2, id_col="id")
    with _pytest.raises(ValueError, match="n_codes"):
        ivf_pq_topk(df, m_subvectors=3, n_codes=1, id_col="id")


def test_soft_dedup_weights_properties(spark):
    from uofi_payroll_etl_main_spark.llm.dedup import soft_dedup_weights

    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "THE  cat   sat"),   # same content after normalization
            (3, "the cat sat "),     # same again
            (4, "a different doc"),
            (5, "another one"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in soft_dedup_weights(docs).collect()}
    assert len(out) == 5                       # nothing dropped
    assert out[1].content_hash == out[2].content_hash == out[3].content_hash
    assert out[1].cluster_size == 3 and abs(out[1].weight - 1 / 3) < 1e-6
    assert out[4].cluster_size == 1 and out[4].weight == 1.0
    # equal total mass per distinct content
    total = sum(r.weight for r in out.values())
    assert abs(total - 3.0) < 1e-5             # 3 distinct contents


def test_zipf_fit_recovers_known_slope(spark):
    """A corpus synthesized with count(rank) = round(C / rank^s) must
    fit back slope ~ -s; the counts/types totals are exact."""
    from uofi_payroll_etl_main_spark.llm.text import zipf_fit

    s_true = 1.0
    C = 2000
    toks = []
    for r in range(1, 101):
        c = max(1, round(C / (r ** s_true)))
        toks += [f"w{r:03d}"] * c
    # pack tokens into documents of 50 tokens
    docs = [
        (i, " ".join(toks[i * 50 : (i + 1) * 50]))
        for i in range(-(-len(toks) // 50))
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    row = zipf_fit(df).collect()[0]
    assert row.n_types == 100
    assert row.n_tokens == len(toks)
    assert abs(row.slope - (-s_true)) < 0.1, row.slope
    assert row.r2 > 0.98, row.r2


def test_kmeans_int_matches_python_replica(spark):
    """kmeans_int vs a pure-Python all-integer Lloyd replica on planted
    clusters: identical assignments and distances (every quantity an
    integer, so equality is exact), and the planted structure is
    recovered (one cluster per blob)."""
    import hashlib

    from uofi_payroll_etl_main_spark.llm.similarity import kmeans_int

    blobs = {0: (100, 0, 0), 1: (0, 100, 0), 2: (0, 0, 100)}
    rows = []
    for vid in range(60):
        cx = blobs[vid % 3]
        vec = [float(cx[j] + (vid * 7 + j * 3) % 5) for j in range(3)]
        rows.append((vid, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist2"])
        for r in kmeans_int(df, k=3, n_iter=2).collect()
    }

    # replica
    def quant(v):
        amax = max(abs(x) for x in v)
        s = amax / 127.0 if amax > 0 else 1.0
        # python round is half-even like Spark/DuckDB round-half-up only
        # differs at exact .5 -- mirror Spark by rounding via floor(x+0.5)
        # on positives / ceil(x-0.5) on negatives
        out = []
        for x in v:
            y = x / s
            out.append(int(y + 0.5) if y >= 0 else -int(-y + 0.5))
        return out

    q = {vid: quant(v) for vid, v in rows}
    order = sorted(q, key=lambda vid: hashlib.md5(f"{vid}:42".encode()).hexdigest())
    cents = {i: q[v] for i, v in enumerate(order[:3])}

    def assign():
        a = {}
        for vid, qv in q.items():
            best = min(
                (sum((x - c[j]) ** 2 for j, x in enumerate(qv)), cid)
                for cid, c in cents.items()
            )
            a[vid] = best
        return a

    import math
    for _ in range(2):
        a = assign()
        sums = {}
        for vid, (d2, cid) in a.items():
            s0, n0 = sums.get(cid, ([0, 0, 0], 0))
            sums[cid] = ([s0[j] + q[vid][j] for j in range(3)], n0 + 1)
        for cid, (s0, n0) in sums.items():
            cents[cid] = [math.floor(s0[j] / n0) for j in range(3)]
    final = assign()
    want = {vid: (cid, d2) for vid, (d2, cid) in final.items()}
    assert got == want
    # planted blobs recovered: each blob maps to exactly one cluster
    for b in range(3):
        assert len({want[vid][0] for vid in range(60) if vid % 3 == b}) == 1


def test_kmeans_int_tie_goes_to_smaller_cluster_id(spark):
    """kmeans_int: a vector equidistant from two centroids is assigned
    to the smaller cluster_id, and each seed centroid to its own index
    (the argmin reads cluster ids off the centroid matrix's index)."""
    import hashlib

    from uofi_payroll_etl_main_spark.llm.similarity import kmeans_int

    # the two seed centroids are the md5-first ids; give them the unit
    # axes and the third row the diagonal, which quantizes to (127, 127)
    # at squared distance 127^2 from both
    ids = sorted(range(3), key=lambda v: hashlib.md5(f"{v}:42".encode()).hexdigest())
    vecs = {ids[0]: [1.0, 0.0], ids[1]: [0.0, 1.0], ids[2]: [1.0, 1.0]}
    df = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist2"])
        for r in kmeans_int(df, k=2, n_iter=0).collect()
    }
    assert got == {ids[0]: (0, 0), ids[1]: (1, 0), ids[2]: (0, 127 * 127)}


def test_semantic_dedup_int_planted_duplicates(spark):
    """semantic_dedup_int: planted near-identical vectors collapse to
    one kept exemplar; well-separated vectors all survive; every
    dropped row points at a higher-ranked exemplar in its cluster."""
    from uofi_payroll_etl_main_spark.llm.similarity import semantic_dedup_int

    rows = []
    # 5 near-identical copies around (100, 0, 0) -- should keep 1
    for i in range(5):
        rows.append((i, [100.0 + i * 0.01, 0.0, 0.0]))
    # well-separated singletons
    rows += [(10, [0.0, 100.0, 0.0]), (11, [0.0, 0.0, 100.0]),
             (12, [70.0, 70.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semantic_dedup_int(df, threshold=0.95, k=3).collect()}
    dup_kept = [v for v in range(5) if out[v]["keep"]]
    assert len(dup_kept) == 1, out
    for v in range(5):
        if not out[v]["keep"]:
            ex = out[v]["exemplar_id"]
            assert out[ex]["cluster_id"] == out[v]["cluster_id"]
    for v in (10, 11, 12):
        assert out[v]["keep"], out[v]


def test_ann_pq_int_recall_vs_exact(spark):
    """ann_pq_int: with clusters smaller than k+1, a vector's exact
    top-k IS its cluster -- PQ codes collapse within-cluster detail but
    keep clusters far apart in ADC, so the cluster-mates dominate the
    ADC ranking (recall is bounded, not equality: PQ is lossy by
    design).  ADC never pairs a vector with itself."""
    import numpy as np

    from uofi_payroll_etl_main_spark.llm.similarity import ann_pq_int

    rng = np.random.RandomState(3)
    centers = rng.randint(-80, 80, (16, 64)).astype(np.float64)
    rows = []
    for vid in range(80):
        v = centers[vid % 16] + rng.randint(-2, 3, 64)
        rows.append((vid, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = ann_pq_int(df, k=4, n_codes=16, n_sub=4).collect()
    by_q = {}
    for r in got:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for vid in range(80):
        mates = {o for o in range(80) if o != vid and o % 16 == vid % 16}
        hits += len(mates & by_q.get(vid, set()))
        total += len(mates)
    assert hits / total > 0.8, hits / total


def test_nb_classifier_separates_planted_vocab(spark):
    """nb_classify: with disjoint class vocabularies the self-trained
    model classifies every doc correctly; an empty doc falls back to
    the majority prior."""
    from uofi_payroll_etl_main_spark.llm.text import nb_classify

    rows = []
    for i in range(30):
        rows.append((i, "alpha beta gamma delta", "en"))
    for i in range(30, 50):
        rows.append((i, "zork blik fnord quux", "de"))
    rows.append((99, "   ", "de"))  # empty -> prior only; en majority
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in nb_classify(df).collect()}
    for i in range(30):
        assert out[i]["pred"] == "en", out[i]
    for i in range(30, 50):
        assert out[i]["pred"] == "other", out[i]
    assert out[99]["n_tokens"] == 0
    assert out[99]["pred"] == "en"  # 30/51 en prior wins on empty text


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee: two docs sharing a >= w+k-1 (= 6) word
    substring share at least one selected fingerprint; density is
    ~2/(w+1) of the k-grams."""
    from pyspark.sql import Window

    from uofi_payroll_etl_main_spark.llm.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, f"one two {shared} three four five six seven"),
        (1, f"nine ten eleven twelve {shared} thirteen"),
        (2, "totally different words everywhere here always forever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prof = {r["doc_id"]: r for r in winnowing_fingerprints(df).collect()}
    for d in (0, 1, 2):
        assert prof[d]["n_fingerprints"] >= 1
        assert prof[d]["n_fingerprints"] <= prof[d]["n_windows"]

    # re-derive the selected fingerprint SETS with a tiny replica and
    # check the shared-substring guarantee
    import hashlib
    import re as _re

    def fps(text, k=3, w=4):
        ws = _re.sub(r"\s+", " ", text.lower()).strip().split()
        hs = [
            hashlib.md5(" ".join(ws[i : i + k]).encode()).hexdigest()[:12]
            for i in range(len(ws) - k + 1)
        ]
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

    f0, f1, f2 = (fps(t) for _, t in rows)
    assert f0 & f1, "shared 6-word substring must share a fingerprint"
    assert not (f0 & f2)
    # the Spark counts match the replica's
    assert prof[0]["n_fingerprints"] == len(f0)
    assert prof[1]["n_fingerprints"] == len(f1)


def test_int_twins_raise_on_degenerate_corpora(spark):
    """kmeans_int / ann_pq_int edge guards (ADVICE r7): a corpus with
    fewer rows than k, or an empty corpus, raises an explicit
    ValueError instead of an opaque IndexError/TypeError."""
    import pytest as _pytest

    from uofi_payroll_etl_main_spark.llm.similarity import ann_pq_int, kmeans_int

    tiny = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [4.0, 3.0, 2.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="k=8"):
        kmeans_int(tiny, k=8, n_iter=1)

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="empty"):
        ann_pq_int(empty)


def test_sorted_neighborhood_pairs_vs_replica(spark):
    """sorted_neighborhood_pairs vs a brute-force Python replica (full
    sort + window scan + Levenshtein), including a pair that PREFIX
    blocking misses (first chars differ, sort keys adjacent) and ties
    resolved by id."""
    import re as _re

    docs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delt"),     # near-dup of 1
        (3, "alphq beta gamma delta"),    # 1 edit in char 5: same block escape
        (4, "omega psi chi"),
        (5, "omega psi chx"),             # near-dup of 4
        (6, "zeta eta theta iota kappa"),
        (7, "Alpha  beta gamma delta"),   # normalizes to doc 1's text
        (8, "unrelated totally different content here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    from uofi_payroll_etl_main_spark.llm.dedup import sorted_neighborhood_pairs

    got = {
        (r["doc_a"], r["doc_b"]): (r["gap"], r["dist"])
        for r in sorted_neighborhood_pairs(df, window=3).collect()
    }

    # replica
    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return dp[n]

    norm = lambda t: _re.sub(r"\s+", " ", t.lower()).strip()
    base = sorted(
        ((norm(t)[:16], i, norm(t)[:64]) for i, t in docs if norm(t)[:64]),
    )
    want = {}
    for ai in range(len(base)):
        for bi in range(ai + 1, min(ai + 4, len(base))):
            d = lev(base[ai][2], base[bi][2])
            if d <= 8:
                want[(base[ai][1], base[bi][1])] = (bi - ai, d)
    assert got == want, (got, want)
    # the sorted order must catch the cross-block pair (1 or 7) ~ 3
    assert any(3 in p for p in got), got


def test_ann_eval_gate_consistency(spark):
    """llm_ann_eval (composed ANN recall gate): hits bounded by both
    sets, recall_ppm consistent with counts, and recall matches a
    direct set intersection of the two underlying gates."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    r = qs["llm_ann_eval"](spark, sf).collect()[0]
    assert 0 < r["n_hits"] <= min(r["n_exact"], r["n_approx"])
    assert r["recall_ppm"] == int(1_000_000 * r["n_hits"] / r["n_exact"] + 0.5)
    exact = {
        (x["query_id"], x["neighbor_id"])
        for x in qs["llm_cosine_topk"](spark, sf).collect()
    }
    approx = {
        (x["query_id"], x["neighbor_id"])
        for x in qs["llm_ann_ivf"](spark, sf).collect()
    }
    assert r["n_hits"] == len(exact & approx)


def test_sorted_neighborhood_fuzz_vs_replica(spark):
    """Seeded fuzz (parity-fuzz discipline): random small corpora with
    planted near-dups; sorted_neighborhood_pairs must equal the
    brute-force replica on every seed."""
    import random
    import re as _re

    from uofi_payroll_etl_main_spark.llm.dedup import sorted_neighborhood_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return dp[n]

    norm = lambda t: _re.sub(r"\s+", " ", t.lower()).strip()
    vocab = ["alpha", "beta", "gamma", "delta", "omega", "zeta", "theta", "kappa"]
    for seed in range(8):
        rng = random.Random(seed)
        docs = []
        for i in range(30):
            words = [rng.choice(vocab) for _ in range(rng.randint(2, 8))]
            docs.append((i, " ".join(words)))
            if rng.random() < 0.4:  # planted near-dup with a small edit
                mut = list(" ".join(words))
                mut[rng.randrange(len(mut))] = rng.choice("abcxyz ")
                docs.append((100 + i, "".join(mut)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["doc_a"], r["doc_b"]): (r["gap"], r["dist"])
            for r in sorted_neighborhood_pairs(df, window=4).collect()
        }
        base = sorted(
            ((norm(t)[:16], i, norm(t)[:64]) for i, t in docs if norm(t)[:64]),
        )
        want = {}
        for ai in range(len(base)):
            for bi in range(ai + 1, min(ai + 5, len(base))):
                d = lev(base[ai][2], base[bi][2])
                if d <= 8:
                    want[(base[ai][1], base[bi][1])] = (bi - ai, d)
        assert got == want, (seed, len(got), len(want))


def test_bind1_matches_inline_evaluation(spark):
    """text.bind1 is a pure let-expression: binding the token chain and
    evaluating grams from the bound value must equal the inline form on
    every edge (null text, empty, shorter-than-n, repeats)."""
    from pyspark.sql import functions as F

    from uofi_payroll_etl_main_spark.llm.dedup import word_shingles
    from uofi_payroll_etl_main_spark.llm.text import bind1, normalize_text, tokens

    df = spark.createDataFrame(
        [
            (1, "The  quick Brown fox jumps"),
            (2, "a b"),
            (3, ""),
            (4, None),
            (5, "one two three"),
            (6, "x x x x x"),
        ],
        "id long, text string",
    )
    toks = tokens(normalize_text("text"))
    k = F.size(toks)
    inline = F.array_distinct(
        F.when(
            k >= 3,
            F.transform(
                F.sequence(F.lit(0), k - 3),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )
    rows = df.select(
        "id", inline.alias("a"), word_shingles("text", 3).alias("b")
    ).collect()
    assert all(r["a"] == r["b"] for r in rows), rows
    # bind1 passes nulls through like any value
    got = df.select(bind1(F.col("text"), lambda s: F.length(s)).alias("n")).collect()
    want = df.select(F.length("text").alias("n")).collect()
    assert [r["n"] for r in got] == [r["n"] for r in want]


def test_gram_lambdas_reference_bound_tokens_not_the_chain(spark):
    """Perf guard for the r10 per-element re-evaluation fix: HOF lambdas
    re-run any OUTER expression they reference once per element, so the
    regexp+split tokenize chain must cross into gram/window/turn lambdas
    as a bound lambda variable (text.bind1 / a materialized column),
    never inline.  Asserts no lambdafunction body contains the chain."""
    from pyspark.sql import functions as F

    from uofi_payroll_etl_main_spark.llm.chat import synth_conversations
    from uofi_payroll_etl_main_spark.llm.dedup import word_shingles
    from uofi_payroll_etl_main_spark.llm.text import top_ngrams, winnowing_fingerprints

    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")

    def chain_inside_lambda(sdf) -> bool:
        # paren-balanced scan: is any regexp_replace inside the scope of
        # a lambdafunction(...)?  (A plain substring split would false-
        # positive on the auto-alias, which restringifies the whole
        # expression on the same line.)
        plan = sdf._jdf.queryExecution().analyzed().toString()
        marker = "lambdafunction("
        depth, lam_depths, j = 0, [], 0
        while j < len(plan):
            if plan.startswith(marker, j):
                lam_depths.append(depth)
                depth += 1
                j += len(marker)
                continue
            c = plan[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if lam_depths and depth == lam_depths[-1]:
                    lam_depths.pop()
            elif lam_depths and plan.startswith("regexp_replace", j):
                return True
            j += 1
        return False

    assert not chain_inside_lambda(df.select(word_shingles("text", 3).alias("sh")))
    assert not chain_inside_lambda(top_ngrams(df, n=2, k=5))
    assert not chain_inside_lambda(winnowing_fingerprints(df, k=3, w=2))
    assert not chain_inside_lambda(synth_conversations(df, turn_tokens=2))
    # the remaining converted sites: document chunking, repetition
    # signals, substring-span window hashes, and the eval gram kernel
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from uofi_payroll_etl_main_spark.llm.curation import chunk_documents
    from uofi_payroll_etl_main_spark.llm.dedup import _window_occurrences
    from uofi_payroll_etl_main_spark.llm.text import (
        _pair_gram_stats_multi,
        repetition_signals,
    )

    assert not chain_inside_lambda(chunk_documents(df, chunk_tokens=3, stride=2))
    assert not chain_inside_lambda(repetition_signals(df))
    assert not chain_inside_lambda(_window_occurrences(df, 3, "doc_id", "text"))
    pairs = df.select(
        F.col("doc_id").alias("ref_id"), F.col("doc_id").alias("cand_id")
    )
    for unit in ("word", "char"):
        assert not chain_inside_lambda(
            _pair_gram_stats_multi(df, pairs, [1, 2], "doc_id", "text", unit=unit)
        ), unit
