"""Measured scale-up experiment: does each headliner's cost grow ~linearly
when the FACT tables grow NX (default 10x) while dimensions stay fixed --
the shape a real 100 TB deployment has?

Builds /tmp/spark_graft_scaleN from $SPARK_GRAFT_SF_DIR (default sf0.1):

- lineitem / orders / customer / events: N copies with key offsets
  (orderkey, custkey, event_id, user_id), so join/dedup/graph structure
  repeats N times instead of degenerating into one giant key.
- documents: N copies with doc_id offsets AND a per-copy token suffix
  appended to every word, so shingle/fingerprint similarity WITHIN a copy
  is preserved while similarity ACROSS copies is zero -- true-pair volume
  scales linearly, matching a corpus that grew 10x, not a corpus that was
  duplicated 10x (which would inflate output quadratically and measure
  result materialization, not the operator).
- region / nation / supplier / part / embeddings: copied 1x (dims grow
  slowly in practice; embedding headliners are excluded here because a
  duplicated embedding table measures duplicate-pair output explosion,
  not scan/shuffle scaling).

Then times each headliner at the base SF and at the scaled dir in ONE
session and prints a JSON report with the per-query ratio.  For a
linear-cost operator with nontrivial fixed overhead the ratio should be
well under N; a ratio >> N is superlinear cost and a scale bug.

Usage: python tools/scale_experiment.py [N_COPIES]
       (SPARK_GRAFT_SCALE_QUERIES=q1,q2 times those queries instead of
       the headliners)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

HEADLINERS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "d4_keep_first",
    "w_session",
    "w_tumbling",
    "g3_triangle_count",
    "llm_exact_dedup",
    "llm_line_dedup",
    "llm_decontaminate",
    "llm_jaccard_pairs",
    "llm_jaccard_prefix",
    "llm_containment_pairs",
    "llm_containment_prefix",
    "llm_minhash_lsh",
    "llm_tfidf",
    "llm_gopher_rules",
    "llm_contamination_overlap",
    "llm_boilerplate",
    "llm_trained_classifier",
    "llm_bpe_train",
    "llm_substring_spans",
    "llm_substring_strip",
    "llm_perplexity_buckets",
    "llm_fim_transform",
    "llm_chat_render",
    "llm_chat_stats",
    "llm_encoding_quality",
    # round-7 md5-deterministic sketch/LSH family (events + documents
    # scale; the register/cell tables stay bounded, so ratios should sit
    # well under N)
    "a4_hll_distinct",
    "a17_sketch_union",
    "w_wau_hll",
    "a19_cms_counts",
    "a24_quantile_sketch",
    "llm_minhash_lsh_md5",
    "llm_simhash_md5",
]

SCALED = {
    "lineitem": [("l_orderkey", 10_000_000_000)],
    "orders": [("o_orderkey", 10_000_000_000), ("o_custkey", 1_000_000_000)],
    "customer": [("c_custkey", 1_000_000_000)],
    "events": [("event_id", 10_000_000_000), ("user_id", 1_000_000_000)],
    "documents": [("doc_id", 1_000_000_000)],
}
COPIED = ["region", "nation", "supplier", "part", "embeddings"]
# SCALE_EXP_EMB=1: also grow embeddings Nx (vec_id offsets, vectors kept
# -- cluster structure repeats, which is the right shape for CLUSTERING
# timings; pairwise/ANN gates stay excluded because duplicate vectors
# inflate their OUTPUT quadratically and would measure materialization)
EMB_SCALED = [("vec_id", 1_000_000_000)]


def build(spark, src: str, dst: str, n: int) -> None:
    from pyspark.sql import functions as F

    from uofi_payroll_etl_main_spark.io import load_table

    os.makedirs(dst, exist_ok=True)
    copied = list(COPIED)
    scaled = dict(SCALED)
    if os.environ.get("SCALE_EXP_EMB"):
        copied.remove("embeddings")
        scaled["embeddings"] = EMB_SCALED
    for t in copied:
        load_table(spark, src, t).write.mode("overwrite").parquet(
            os.path.join(dst, f"{t}.parquet")
        )
    for t, offsets in scaled.items():
        base = load_table(spark, src, t)
        parts = []
        for i in range(n):
            c = base
            for col, step in offsets:
                c = c.withColumn(col, F.col(col) + F.lit(i * step))
            if t == "documents":
                # suffix every word with a copy tag -> zero cross-copy
                # shingle overlap, intact within-copy structure.  ALSO
                # prepend a copy token: the suffix alone leaves
                # cross-copy EDIT distance at ~1 per word (a one-char
                # substitution), so prefix-blocked Levenshtein gates
                # (llm_fuzzy_pairs) saw phantom cross-copy pairs -- the
                # r8 measurement artifact pinned in SCALE.md.  A leading
                # token diverges the first block_len chars, killing
                # cross-copy candidates for edit-distance ops the same
                # way the suffix kills them for shingle ops.
                c = c.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1x{i}")
                ).withColumn("text", F.concat(F.lit(f"c{i} "), F.col("text")))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(dst, f"{t}.parquet"))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dst = f"/tmp/spark_graft_scale{n}" + (
        "_emb" if os.environ.get("SCALE_EXP_EMB") else ""
    )

    import __spark_entry__ as entrymod

    from uofi_payroll_etl_main_spark.session import get_spark

    spark = get_spark("scale-exp")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(dst, "documents.parquet")):
        t0 = time.time()
        build(spark, src, dst, n)
        print(f"built {dst} in {time.time() - t0:.1f}s", file=sys.stderr)

    qs = entrymod.queries()
    qs["a3_count"](spark, src).collect()  # warm workers

    only = os.environ.get("SPARK_GRAFT_SCALE_QUERIES", "")
    names = [s for s in only.split(",") if s] or HEADLINERS
    report = {"n_copies": n, "base": src, "queries": {}}
    for name in names:
        row = {}
        for label, sf_dir in (("base_s", src), ("scaled_s", dst)):
            t0 = time.time()
            try:
                df = qs[name](spark, sf_dir)
                # noop sink: full-column materialization (count() lets
                # Catalyst prune the expensive projections -- see bench.py)
                df.write.format("noop").mode("overwrite").save()
                row[label] = round(time.time() - t0, 2)
                row.setdefault("rows_" + label[:4], df.count())
            except Exception as exc:  # noqa: BLE001
                row[label] = None
                row["err"] = f"{type(exc).__name__}: {exc}"[:200]
        if row.get("base_s") and row.get("scaled_s"):
            row["ratio"] = round(row["scaled_s"] / row["base_s"], 1)
        report["queries"][name] = row
        print(f"{name:28s} {row}", file=sys.stderr)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
