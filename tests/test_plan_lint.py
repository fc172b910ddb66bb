"""Plan lint: every registry query's physical plan is swept for scale
anti-patterns.  The headliner plan tests (test_analytics_plans.py) go
deep on a few queries; this goes wide across the whole driver surface:

  * CartesianProduct        -- never acceptable (unbounded pair space).
  * BatchEvalPython         -- row-at-a-time Python in the plan; all
                               Python must be Arrow-batched
                               (ArrowEvalPython / *InPandas).
  * BroadcastNestedLoopJoin -- only for a documented allowlist where
                               one side is a single-row scalar
                               aggregate, a metadata-scale spine, or an
                               intentional brute-force baseline tier.
  * Unpushed simple filter  -- a FileScan whose DataFilters contain a
                               predicate over a BARE column while
                               PushedFilters is empty: the parquet
                               reader is decoding rows a pushed filter
                               would have skipped.  Filters over
                               computed expressions (concat, casts,
                               regex...) are untranslatable by design
                               and not flagged.
  * Runaway same-path scans -- one input scanned more than
                               MAX_SAME_PATH_SCANS times in a single
                               plan signals lineage blowup (an
                               iterative loop missing its per-round
                               localCheckpoint).  Two-to-few scans are
                               DELIBERATE at 100 TB -- recomputing a
                               column-pruned scan beats caching
                               terabytes -- so only gross repetition
                               is flagged, with a documented allowlist
                               for bounded-iteration algorithms.
  * Unpartitioned WindowExec  -- a Window with an ORDER BY but no
                               PARTITION BY sorts its whole input on
                               ONE task; corpus-scale inputs make that
                               the job's ceiling.  Every occurrence
                               must be in UNPART_WINDOW_ALLOWED with a
                               documented bound on the frame it runs
                               over (top-k-limited, bucket-totals,
                               day-grain...).  WindowGroupLimit is a
                               partitioned top-k pushdown, not flagged.
"""

from __future__ import annotations

import collections
import re

import pytest

# r11: registry-wide sweep battery -- opt-in (`pytest -m deep`), part of
# the round-close certification; excluded from the default run so the
# driver's pytest budget is met (VERIFY_r10 truncation, 29m31s suite).
pytestmark = pytest.mark.deep

SF = "/root/testdata/sf0.001"

# BNLJ is legitimate where the broadcast side is O(1) rows or the cross
# space IS the query's contract:
BNLJ_ALLOWED = {
    "llm_tfidf",            # single-row corpus-count broadcast
    "llm_mixture_weights",  # single-row total broadcast
    "v5_skew_report",       # single-row total broadcast
    "q11_important_stock",  # scalar threshold subquery (TPC-H shape)
    "q22_dormant_wealthy",  # scalar avg-balance subquery (TPC-H shape)
    "w_resample_filled",    # buckets x groups spine (metadata-scale)
    "w_gap_linear",         # buckets x groups spine (metadata-scale)
    "w_resample_locf",      # buckets x groups spine (metadata-scale)
    "llm_cosine_topk",      # brute-force exact baseline BY DESIGN
    "llm_cosine_topk_q",    # brute-force on int8 arrays (same baseline)
    "llm_embed_dup",        # brute-force exact baseline BY DESIGN
    "a14_histogram",        # single-row (min,max) stats broadcast
    "v12_psi",              # single-row bounds + totals broadcasts (histogram shape x2)
    "v13_benford",          # single-row digit-total broadcast
    "v16_chi_square_drift", # single-row totals broadcast (v13 shape)
    "llm_kmeans_int",       # k=8 centroid-table broadcast (bounded, by design)
    "llm_nb_classifier",    # single-row totals/vocab + prior broadcasts
    "a52_ks_test",          # single-row (n_a, n_b) totals broadcast
    "a43_sketch_overlap",   # |sets|^2 sketch-row pair join (segment-scale, facts scanned once)
    "a49_kmv_set_ops",      # |sets|^2 KMV-estimate pair join (segment-scale, facts reduce once to k-integer sketches)
    "a45_mann_whitney",     # single-row rank-sum x single-row tie-correction broadcast
    "a53_kruskal_wallis",   # single-row bounds + tie-correction broadcasts (a45 shape, k groups)
    "a54_brown_forsythe",   # single-row (N, k, T1) totals broadcast
    "a47_assoc_rules",      # single-row n-baskets broadcast
    "v15_monitor",          # composes v12/v13 scalar-broadcast shapes; inherits their BNLJ rows
    "s12_zorder_profile",   # single-row (min,max) z-range broadcast
    "s24_hilbert_profile",  # single-row (min,max) hilbert-range broadcast
    "a24_quantile_sketch",  # single-row (min,max) bounds broadcast
    "w_decayed_counts",     # single-row max-ts reference broadcast
    "llm_hard_negatives",   # brute-force exact baseline BY DESIGN
    "llm_anchor_positives", # brute-force exact baseline BY DESIGN
    "llm_negative_pairs",   # single-row id-space bound broadcast
    "llm_curriculum",       # single-row corpus-count broadcast
    "llm_vocab_coverage",   # single-row token-total broadcast
    "llm_mixture_apply",    # single-row (total, ssum) broadcast
    "j21_report_spine",     # region x priority grid (metadata-scale spine)
    "llm_mix_drift",        # single-row (ta, tb) totals broadcast
    "llm_js_divergence",    # single-row (ta, tb) totals broadcast (mix_drift shape)
    "llm_balanced_sample",  # single-row min-class broadcast
    "llm_perplexity_buckets",  # single-row vocab-size broadcast (add-k LM smoothing)
    "llm_dataset_card",     # single-row metric blocks broadcast (datasheet rollup)
    "llm_bm25",             # single-row (n_docs, avgdl) stats broadcast
    "llm_rrf_fusion",       # single-row query-vector broadcast + bm25 stats broadcast
    "llm_mmr_diversify",    # broadcast query batch -> exact candidate pool (stage-1 tier is swappable for ANN)
    "g11_modularity",       # single-row edge-count (m) broadcast
    "llm_zipf_fit",         # single-row (min,max) bounds broadcast (_value_running_totals)
}

# skipped: st_* execute a streaming drain inside the registry call;
# the two cluster queries run the iterative fixpoint loop eagerly
SKIP_PREFIXES = ("st_",)
SKIP = {"llm_dup_clusters", "llm_near_dedup_corpus", "llm_near_dedup_keep_best"}

# Multi-way joins and bounded candidate levels that re-read one input,
# and composed pipelines that re-derive a small input several times by
# design (cheaper than caching at scale).  The iterative graph operators
# checkpoint every superstep, so their plans need no entry here.
MANY_SCANS_ALLOWED = {
    "a43_sketch_overlap",    # register table referenced per pair side
    "a46_itemsets",          # L1/L2/L3 candidate levels re-read baskets
    "a47_assoc_rules",       # rule table re-reads L1/L2 supports
    "g10_adamic_adar",       # two-hop neighbor join re-reads edges
    "g3_triangle_count",     # edge table joined 3 ways
    "llm_curation_pipeline", # composed funnel re-derives documents
    "llm_perplexity_buckets",# train/held-out/vocab views of one corpus
    "v12_psi",               # expected/actual histogram halves x bounds
    "v15_monitor",           # composes v12/v13 shapes
}
MAX_SAME_PATH_SCANS = 6

# Unpartitioned ordered windows, each audited to run over a BOUNDED
# frame -- never the corpus.  Adding a query here requires naming the
# bound.  (r8 verdict task: a45/a52 used to global-sort the pooled
# measurement values; both now rank via aggregates._value_running_totals'
# range-bucketed offsets, leaving only the <=64-row bucket-totals
# window.  llm_zipf_fit's types-scale rank was rebuilt the same round
# onto the (count-class, token-prefix) composite-bucket rank.)
UNPART_WINDOW_ALLOWED = {
    "a33_gini",             # |sources| per-dimension count frame
    "a45_mann_whitney",     # <=64-row bucket-totals offsets frame
    "a52_ks_test",          # <=64-row bucket-totals offsets frame
    "a53_kruskal_wallis",   # <=64-row bucket-totals offsets frame
    "llm_corpus_shuffle",   # per-bucket count offsets frame (dedup.py pattern)
    "llm_curation_pipeline",# per-bucket count offsets frame
    "llm_curriculum",       # per-bucket count offsets frame
    "llm_rrf_fusion",       # <=50-row BM25 top-k list
    "llm_vocab_coverage",   # <=top_v(500)-row token list after limit
    "llm_zipf_fit",         # <=64-row bucket-totals offsets frame
    "v5_skew_report",       # <=top(20)-row frame after limit
    "v8_freshness",         # day-grain trailing-mean frame
    "v15_monitor",          # day-grain trailing-mean frame (v8 shape)
}

# a Window line prints [functions], [partitionSpec], [orderSpec]; the
# unpartitioned form has only [functions], [orderSpec] -- two top-level
# bracket groups, the last carrying sort directions
_WINDOW_LINE = re.compile(r"(?:^|[\s:])(Window \[.*)$")

# A DataFilters predicate whose operand is a BARE attribute (col#123)
# rather than a computed expression -- these ALWAYS have a parquet
# translation, so an empty PushedFilters next to one is a regression.
_SIMPLE_PRED = re.compile(
    r"(?:isnotnull|isnull)\(\w+#\d+L?\)"
    r"|\(\w+#\d+L? (?:=|>|<|>=|<=|IN)\s"
)



def _all_query_names():
    import __spark_entry__ as entrymod

    return [
        n
        for n in sorted(entrymod.queries())
        if not n.startswith(SKIP_PREFIXES) and n not in SKIP
    ]


@pytest.mark.parametrize("name", _all_query_names())
def test_no_scale_antipatterns(spark, name):
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python\n{plan}"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in BNLJ_ALLOWED, f"{name}: unexpected BNLJ\n{plan}"

    # pushdown: a scan carrying a simple-column predicate must have
    # pushed SOMETHING to the parquet reader
    for m in re.finditer(
        r"DataFilters: \[([^\]]*)\].*?PushedFilters: \[([^\]]*)\]", plan
    ):
        data, pushed = m.group(1).strip(), m.group(2).strip()
        if data and not pushed and _SIMPLE_PRED.search(data):
            raise AssertionError(
                f"{name}: simple-column filter not pushed to parquet "
                f"(DataFilters=[{data[:160]}], PushedFilters=[])"
            )

    # unpartitioned ordered window: whole input sorted on one task
    for line in plan.splitlines():
        m = _WINDOW_LINE.search(line)
        if not m:
            continue
        groups = m.group(1).split("], [")
        if len(groups) == 2 and ("ASC" in groups[1] or "DESC" in groups[1]):
            assert name in UNPART_WINDOW_ALLOWED, (
                f"{name}: unpartitioned ordered Window (single-partition "
                f"sort of its whole input) -- use a partitioned window, "
                f"the range-bucket offset rank (aggregates."
                f"_value_running_totals / llm.dedup sorted-neighborhood "
                f"pattern), or allowlist with the frame's bound\n"
                f"{m.group(1)[:200]}"
            )

    # lineage blowup: the same input path scanned gross-many times
    paths = re.findall(r"Location: InMemoryFileIndex\([^)]*\)\[([^\]]+)\]", plan)
    counts = collections.Counter(p.split(",")[0] for p in paths)
    for p, n in counts.items():
        if n > MAX_SAME_PATH_SCANS and name not in MANY_SCANS_ALLOWED:
            raise AssertionError(
                f"{name}: {p.rsplit('/', 1)[-1]} scanned {n}x in one plan "
                "-- lineage blowup? (localCheckpoint the loop state, or "
                "allowlist with a reason)"
            )
