"""Graph analytics over relationship edges (entity-resolution /
duplicate-cluster graphs, supplier-customer networks).

Rank-style iterations (PageRank, HITS, label propagation) and the
fixpoint algorithms (connected components by star contraction, k-core,
strongly connected components, BFS and betweenness supersteps).

PageRank here is the standard simplified power iteration: a fixed
number of synchronous iterations, dangling mass not redistributed
(nodes with no out-edges simply leak their damped mass, as in the
original formulation).  Cross-engine determinism: per-edge
contributions are summed as DECIMAL(38,18) -- exact, order-independent
-- then finished in IEEE double, so the oracle (an unrolled recursive
SQL of the same arithmetic) hash-matches bit-for-bit.

Scale notes (billions of edges):
  * Each rank iteration is one shuffle: edges pre-joined with
    out-degree once (checkpointed, reused across iterations), then
    ranks join on src and aggregate on dst with map-side combine.
  * Every iterative operator here advances by supersteps, and a
    superstep is ONE eager action: `_superstep` checkpoints the
    round's frame (truncating its lineage) and observes the round's
    row count and the scalars the loop needs (convergence counts,
    PageRank's max delta and dangling mass, HITS's normalizers) on
    that same action, so only those few scalars reach the driver and
    no probe runs an action of its own.  No frame goes through the
    session cache: a superseded checkpoint's blocks are released by
    Spark's context cleaner once nothing references it.  A later join
    against a checkpointed iterate broadcasts it when that measured
    size fits the session's broadcast threshold (`_small`): the
    planner's own estimate of a checkpoint is inherited from its plan
    and compounds per round.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

__all__ = ["pagerank", "connected_components", "triangle_count", "degree_stats", "label_propagation", "bfs_hops", "shortest_paths", "k_core", "personalized_pagerank", "adamic_adar", "modularity", "hits", "betweenness_approx", "strongly_connected_components", "bipartite_projection"]


def _superstep(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Run one superstep of a fixpoint loop as a single eager action:
    `localCheckpoint` `df` (cutting its lineage) with `metrics`
    (name=aggregate Column) attached by `DataFrame.observe`, so the
    loop's convergence test rides the checkpoint instead of costing a
    collect of its own.  Returns (checkpoint, {"rows": row count,
    name: value, ...}); a sum over no rows reads None."""
    obs = Observation()
    metrics = {"rows": F.count(F.lit(1)), **metrics}
    cp = df.observe(obs, *[c.alias(n) for n, c in metrics.items()]).localCheckpoint(eager=True)
    return cp, obs.get


def _small(df: DataFrame, rows: int) -> DataFrame:
    """`df` as a join's build side: broadcast-hinted when `rows` (a
    measured count) times Spark's default row width for its schema fits
    the session's autoBroadcastJoinThreshold (-1: never).  A checkpoint
    keeps the size estimate of the plan it came from, which compounds
    round by round, so without the measured count the planner sees an
    iterate of a few thousand rows as astronomically large."""
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return F.broadcast(df) if rows * (8 + df._jdf.schema().defaultSize()) <= limit else df


_DEC = "decimal(38,18)"


def _walk_edges(
    edges: DataFrame, src: str, dst: str, weight_col: str | None
) -> tuple[DataFrame, DataFrame]:
    """The checkpointed (__src, __dst[, __w]) edges of a rank walk, and
    a checkpoint of the same edges with their source's out-degree (the
    summed out-weight when weighted) as `__od`."""
    cols = [F.col(src).alias("__src"), F.col(dst).alias("__dst")]
    if weight_col is not None:
        # weighted variant: an edge contributes rank * w / strength(u)
        # (strength = summed out-weights) -- endorsement proportional to
        # interaction volume instead of 1/outdeg
        cols.append(F.col(weight_col).alias("__w"))
    e, m = _superstep(edges.select(*cols))
    deg = e.groupBy("__src").agg(
        (F.count("*") if weight_col is None else F.sum("__w")).alias("__od")
    )
    return e, _superstep(e.join(_small(deg, m["rows"]), "__src"))[0]


def _power_iteration(
    out: DataFrame,
    ranks: DataFrame,
    teleport: Column,
    iterations: int,
    damping: float,
    dangling: bool = False,
    tol: float | None = None,
) -> DataFrame:
    """The power iteration `pagerank` and `personalized_pagerank`
    share over the out-degree edges `out` of `_walk_edges`:
    rank_{i+1}(v) = teleport + d * sum over in-edges of
    rank_i(u) / outdeg(u) (rank * w / strength over weighted edges), each
    contribution a DECIMAL(38,18) so the sum is exact and
    order-independent.  `ranks` is the start iterate (node, ..., rank);
    its other columns ride along every iterate.

    Each iterate is one `_superstep` that observes its max change from
    the last (the `tol` test) and, with `dangling`, the rank mass on
    nodes flagged `__dang`, which the next iteration spreads as
    d * mass / N over all N nodes."""
    share = F.col("rank") * F.col("__w") if "__w" in out.columns else F.col("rank")
    mass = {"dm": F.sum(F.when(F.col("__dang"), F.col("rank").cast(_DEC)))} if dangling else {}
    ranks, m = _superstep(ranks, **mass)
    n = m["rows"]
    keep = [c for c in ranks.columns if c != "rank"]
    for _ in range(iterations):
        r = _small(ranks, n)
        contribs = (
            out.join(r, out["__src"] == r["node"])
            .select(F.col("__dst").alias("node"), (share / F.col("__od")).cast(_DEC).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        rank = teleport + F.lit(damping) * F.coalesce(F.col("__s").cast("double"), F.lit(0.0))
        if dangling:
            # an observed decimal reads back as its exact value; cast it
            # to the sum's own type so the double is the one Spark reads
            dm = F.lit(m["dm"]).cast(_DEC).cast("double")
            rank = rank + F.lit(damping) * F.coalesce(dm, F.lit(0.0)) / F.lit(float(n))
        ranks, m = _superstep(
            ranks.join(_small(contribs, n), "node", "left")  # a node per row at most
            .select(*keep, rank.alias("rank"), F.col("rank").alias("__prev")),
            delta=F.max(F.abs(F.col("rank") - F.col("__prev"))),
            **mass,
        )
        ranks = ranks.drop("__prev")
        if tol is not None and m["delta"] is not None and m["delta"] < tol:
            break
    return ranks


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    redistribute_dangling: bool = False,
    tol: float | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over a directed edge list.

    Returns (node, rank) for every node appearing as source or
    destination.  rank_0 = 1/N; rank_{i+1}(v) = (1-d)/N +
    d * sum_{(u,v) in E} rank_i(u) / outdeg(u).

    redistribute_dangling=True adds the full formulation's correction:
    mass parked on nodes with no out-edges is spread uniformly
    (d * dangling_mass / N added to every node), so total rank stays 1
    instead of leaking.  The dangling mass is observed on each
    iterate's checkpoint and enters the next iteration as a literal.

    tol (epsilon termination): stop before `iterations` when
    max |rank_{i+1} - rank_i| < tol, a max observed on the iterate's
    checkpoint.  Every iterate is one `_superstep` either way, so the
    plan never nests one level per iteration.  (Production note:
    `_superstep`'s local checkpoint dies with an executor; a real
    cluster would want a reliable checkpoint.)
    """
    e, out = _walk_edges(edges, src, dst, weight_col)
    # a node is dangling unless it is the (non-null) source of an edge
    nodes, m = _superstep(
        e.select(F.col("__src").alias("node"), F.col("__src").isNotNull().alias("__out"))
        .union(e.select(F.col("__dst").alias("node"), F.lit(False).alias("__out")))
        .groupBy("node")
        .agg((~F.bool_or("__out")).alias("__dang"))
    )
    n = m["rows"]
    ranks = _power_iteration(
        out,
        nodes.withColumn("rank", F.lit(1.0 / n)),
        F.lit((1.0 - damping) / n),
        iterations,
        damping,
        dangling=redistribute_dangling,
        tol=tol,
    )
    return ranks.select("node", "rank")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", 2014).  Returns (node, component) with component = the
    minimum node id in each component.

    Why not plain min-label propagation (`llm.dedup.duplicate_clusters`)?
    Propagation needs O(diameter) rounds -- fine for dense near-dup
    clusters, hopeless for a 100 TB web/citation graph whose diameter
    can be thousands.  Star contraction converges in O(log n) rounds on
    any topology, each round two (groupBy + join) shuffles over the
    current edge set, which strictly shrinks toward one star per
    component.  Each round is one `_superstep`: its checkpoint
    truncates the lineage and observes the round's edge-set signature,
    the only thing that reaches the driver.

    Node ids must be orderable (the component id is the min); ids of
    any single orderable Spark type work.

      large-star: for every node u, hang u's LARGER neighbors off
                  m = min(N(u) + {u})   (keeps edges to smaller nodes)
      small-star: hang u's smaller-or-equal neighbors AND u off m

    Both preserve connectivity; their fixpoint is a forest of depth-1
    stars rooted at component minima.
    """
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    # isolated sources/dests never appear in e0 (self-loops dropped);
    # they are their own components and are re-attached at the end
    all_nodes, n = _superstep(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .filter(F.col("node").isNotNull())
        .distinct()
    )

    def _star(ed: DataFrame, large: bool) -> DataFrame:
        # neighborhood relation: (u, v) for every undirected edge
        nbrs = ed.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            ed.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        j = nbrs.join(m, "u")
        if large:
            # (v, m) for neighbors strictly larger than u
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            # (v, m) for neighbors <= u, plus (u, m) itself
            out = (
                j.filter(F.col("v") <= F.col("u"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .union(j.select(F.col("u").alias("a"), F.col("m").alias("b")))
            )
        return (
            out.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
        )

    # Order-independent set signature: (count, sum of 64-bit edge
    # hashes).  Both edge sets are canonical (a<b) and distinct, so
    # equal signatures mean equal sets up to a 2^-64 collision -- two
    # aggregates observed on the round's checkpoint instead of a
    # full-outer symmetric-difference join (which re-shuffles both edge
    # sets).  The hash sum is decimal: a long sum of 64-bit hashes
    # overflows under the driver's ANSI session.
    signature = F.sum(F.xxhash64("a", "b").cast("decimal(38,0)"))
    e, sig = _superstep(e0, h=signature)
    for _ in range(max_iterations):
        e, sig2 = _superstep(_star(_star(e, large=True), large=False), h=signature)
        if sig2 == sig:
            break
        sig = sig2
    # at fixpoint e is depth-1 stars in canonical (a < b) form, so the
    # component root is always the `a` side
    membership = e.select(F.col("a").alias("node"), F.col("a").alias("component")).union(
        e.select(F.col("b").alias("node"), F.col("a").alias("component"))
    ).groupBy("node").agg(F.min("component").alias("component"))
    return (
        all_nodes.join(_small(membership, n["rows"]), "node", "left")  # a node per row at most
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle count over the undirected simple graph.

    Degree-ordered orientation (the standard distributed-triangle
    trick): orient every undirected edge from the lower-(degree, id)
    endpoint to the higher, so each triangle is counted exactly once
    AND the join fan-out is bounded -- a hub of degree d contributes
    only its edges to HIGHER-degree nodes as wedge pivots, capping
    per-key work at O(sqrt(|E|)) oriented out-degree instead of d^2.
    Plan: two shuffles (wedge build on the pivot, closure check as a
    semi-equi-join on the wedge endpoints); no cartesian anywhere.

    Returns a single row (triangles BIGINT).
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n")).union(und.select(F.col("b").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    )
    # orient low-(degree,id) -> high-(degree,id)
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    # wedges pivoted at the LOW end: (x<y) both out-neighbors of lo
    o1 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("x"))
    o2 = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("y"))
    wedges = o1.join(o2, "p").filter(F.col("x") < F.col("y"))
    # a wedge closes iff (x,y) is an edge in EITHER orientation; the
    # closing edge joins on its unordered form
    closing = oriented.select(
        F.least("lo", "hi").alias("x"), F.greatest("lo", "hi").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"], "left_semi")
    return tri.agg(F.count(F.lit(1)).cast("long").alias("triangles"))


def degree_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node in/out/total degree over the directed multigraph --
    the quick skew probe run before choosing a join/partition strategy
    (one groupBy per direction, map-side combined)."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            (F.coalesce("out_degree", F.lit(0)) + F.coalesce("in_degree", F.lit(0))).alias(
                "degree"
            ),
        )
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    starts as its own label; each round it adopts the most frequent
    label among its neighbors, ties broken by MIN label -- fully
    deterministic (async LPA's visit-order dependence is exactly what
    an oracle cannot check), so a fixed-iteration run is value-compared
    against an unrolled SQL oracle, like the g1 PageRank gate.

    Per round: one groupBy over the neighbor-label join (map-side
    partial counts), one rank window bounded by each node's distinct
    neighbor labels.  The edge frame is checkpointed once and reused
    every round, and each round's labels are one `_superstep` whose
    observed row count sizes the next round's joins; isolated nodes
    keep their own label.
    """
    from pyspark.sql import Window

    bidir, _ = _superstep(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .dropDuplicates()
    )
    labels, m = _superstep(
        bidir.select(F.col("a").alias("node")).dropDuplicates().withColumn("label", F.col("node"))
    )
    w = Window.partitionBy("a").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(int(iterations)):
        lab = _small(labels, m["rows"])
        counts = (
            bidir.join(lab, bidir["b"] == lab["node"])
            .groupBy("a", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            counts.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(F.col("a").alias("node"), F.col("label").alias("__new"))
        )
        labels, m = _superstep(
            labels.select("node")
            .join(_small(best, m["rows"]), "node", "left")  # a node per row at most
            .withColumn("label", F.coalesce(F.col("__new"), F.col("node")))
            .drop("__new")
        )
    return labels


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: for every node reachable within `max_hops`
    edges of any source node, the MINIMUM hop count (source nodes are
    hop 0).  `sources` has one column `node`.

    Frontier-expansion form: each round joins only the nodes FIRST
    discovered last round against the edge list (the classic Pregel
    BFS superstep) and anti-joins what earlier rounds reached.  Per
    round: one equi-join + one distinct -- the frontier shrinks as the
    graph saturates, so late rounds are cheap.  Fixed `max_hops` keeps
    the loop deterministic and the oracle SQL-expressible (recursive
    CTE with a hop cap).  Each round's frontier is one `_superstep`, so
    the distance frame is a flat union of per-level checkpoints; the
    observed frontier size sizes the next round's joins, and an empty
    one ends the search.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    e, _ = _superstep(e.distinct())
    frontier, m = _superstep(
        sources.select(F.col("node")).distinct().withColumn("hops", F.lit(0).cast("long"))
    )
    levels, seen = [frontier], m["rows"]
    for h in range(1, int(max_hops) + 1):
        fr = _small(frontier, m["rows"])
        seen_nodes = reduce(DataFrame.union, [lv.select("node") for lv in levels])
        # nodes seen for the FIRST time this round
        frontier, m = _superstep(
            fr.join(e, fr["node"] == e["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(_small(seen_nodes, seen), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
        )
        if not m["rows"]:
            break
        levels.append(frontier)
        seen += m["rows"]
    return reduce(DataFrame.union, levels)


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Hop-capped weighted shortest paths (Bellman-Ford relaxation):
    per node reachable within `max_hops` edges of any source, the
    minimum total edge weight over all such paths.  Integer weights
    stay exact across engines.

    Unlike BFS, a cheaper path can arrive via MORE hops, so each round
    relaxes the FULL distance frame against the edge list (not just a
    frontier): cand = dist ⋈ edges -> (dst, cost+w), min-folded into
    dist.  `max_hops` rounds of one equi-join + one groupBy each; each
    round's distance frame is one `_superstep`, so lineage stays flat,
    and its observed row count sizes the next round's join.  The cap
    both bounds cost and keeps the oracle a hop-capped recursive CTE.
    """
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"), F.col(weight).alias("w")
    )
    if not directed:
        e = e.union(
            edges.select(
                F.col(dst).alias("a"), F.col(src).alias("b"), F.col(weight).alias("w")
            )
        )
    e, _ = _superstep(e.distinct())
    dist, m = _superstep(
        sources.select(F.col("node")).distinct().withColumn("cost", F.lit(0).cast("long"))
    )
    for _ in range(int(max_hops)):
        d = _small(dist, m["rows"])
        cand = (
            d.join(e, d["node"] == e["a"])
            .select(F.col("b").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        dist, m = _superstep(
            dist.unionByName(cand).groupBy("node").agg(F.min("cost").alias("cost"))
        )
    return dist


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """k-core of the UNDIRECTED simple graph induced by `edges`: the
    maximal subgraph where every node has degree >= k, computed by the
    standard iterative peel -- drop all nodes with degree < k, restrict
    edges to survivors, repeat to fixpoint.  Returns surviving
    (node, core_degree) rows; core_degree is the node's degree INSIDE
    the core.

    The community/cohesion primitive behind spam-farm detection and
    dense-cluster mining on link graphs.  Scale shape: each round is
    one degree aggregation (map-side combined) + one semi join of the
    edge set against broadcast survivors -- edge-partitioned work, one
    `_superstep` whose checkpoint observes the surviving edge count.
    Every node of the symmetrized edge set has an edge in it, so a
    round that removes no node removes no edge: an unchanged edge count
    IS the fixpoint.  Rounds are data-bounded (each removes >= 1 node)
    and capped by `max_iter` as a runaway stop.
    """
    # undirected simple graph: symmetrize + dedup, drop self-loops
    und, m_prev = _superstep(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    for _ in range(int(max_iter)):
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        # a node has at least one edge, so the edge count bounds the nodes
        survivors = _small(deg.filter(F.col("d") >= int(k)).select("a"), m_prev["rows"])
        und, m = _superstep(
            und.join(survivors, "a", "left_semi")
            .join(survivors.select(F.col("a").alias("b")), "b", "left_semi")
        )
        if m == m_prev:
            break
        m_prev = m
    return (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .filter(F.col("core_degree") >= int(k))
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    weight_col: str | None = None,
) -> DataFrame:
    """Personalized (seed-teleport) PageRank: the random surfer
    restarts only into the SEED set, so rank measures proximity to the
    seeds -- the relevance primitive behind 'more like these'
    expansion, trust propagation, and seed-biased crawl frontiers.

    rank_0 = teleport; rank_{i+1}(v) = (1-d)*tele(v) + d * sum of
    in-neighbor contributions, tele = 1/|seeds| on seeds else 0.
    Same execution shape and cross-engine determinism discipline as
    pagerank (the shared `_power_iteration`: per-edge contributions
    summed as DECIMAL(38,18), one shuffle and one `_superstep` per
    iteration); the seed count is the row count observed on the seed
    set's checkpoint.  The oracle is the same unrolled SQL with the
    teleport vector swapped in.
    """
    e, out = _walk_edges(edges, src, dst, weight_col)
    sd, s = _superstep(seeds.select(F.col(seeds.columns[0]).alias("node")).distinct())
    tele = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .join(_small(sd.withColumn("__is_seed", F.lit(1)), s["rows"]), "node", "left")
        .select(
            "node",
            F.when(F.col("__is_seed").isNotNull(), F.lit(1.0 / s["rows"]))
            .otherwise(F.lit(0.0))
            .alias("__tele"),
        )
    )
    ranks = _power_iteration(
        out,
        tele.withColumn("rank", F.col("__tele")),
        F.lit(1.0 - damping) * F.col("__tele"),
        iterations,
        damping,
    )
    return ranks.select("node", "rank")


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    k: int = 50,
) -> DataFrame:
    """Adamic-Adar link prediction over the undirected simple graph:
    for every non-adjacent pair (x, y) sharing at least one common
    neighbor, score = sum over common neighbors p of 1/ln(deg(p)) --
    the classic "rare shared friends count more" signal used for
    follow/copurchase recommendation.

    Plan shape at 100 TB: candidate pairs are built as wedges pivoted
    at the common neighbor (adj x adj equi-join on the pivot), so the
    work per pivot is its degree SQUARED -- the skew hazard of this
    family.  `max_degree` caps the pivot degree (the standard
    link-prediction hub cut: a node connected to everything carries ~0
    bits and ~all the cost; with ln-damping a degree-10k hub adds
    <=0.11 per pair anyway); the cap is applied to the PIVOT role only,
    so hubs still receive scores as endpoints.  Everything downstream
    shuffles on (x, y) pair keys with map-side combine; existing edges
    leave via one anti-join on the unordered pair; the global top-k is
    orderBy+limit -> TakeOrderedAndProject (per-partition heaps).

    Per-pivot terms are rounded to 9 digits and summed as
    DECIMAL(20,9) so the DuckDB oracle matches bit-for-bit (ln may
    differ in the last ulp across libm builds).  A degree-1 pivot forms
    no wedge, so 1/ln(deg) never divides by zero.

    Returns top-k rows (x, y, n_common BIGINT, aa_score DOUBLE),
    score desc, (x, y) asc -- fully deterministic.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    # symmetric adjacency: one row per (node, neighbor) direction
    adj = und.select(F.col("a").alias("p"), F.col("b").alias("n")).union(
        und.select(F.col("b").alias("p"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    pivots = deg if max_degree is None else deg.filter(F.col("d") <= int(max_degree))
    # wedges x -- p -- y with x < y, pivot restricted to the degree cap
    a1 = adj.join(pivots, "p").select("p", F.col("n").alias("x"), F.col("d").alias("d_p"))
    a2 = adj.select("p", F.col("n").alias("y"))
    wedges = a1.join(a2, "p").filter(F.col("x") < F.col("y"))
    term = F.round(F.lit(1.0) / F.log(F.col("d_p")), 9).cast("decimal(20,9)")
    scored = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.round(F.sum(term).cast("double"), 6).alias("aa_score"),
    )
    fresh = scored.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    return fresh.orderBy(
        F.desc("aa_score"), F.asc("x"), F.asc("y")
    ).limit(int(k))


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a community partition over the undirected
    simple graph -- the standard "was this clustering any good" score
    for label_propagation / connected_components output:

        Q = sum over communities c of  e_c/m - (d_c/(2m))^2

    with m = |undirected edges|, e_c = intra-community edge count, d_c
    = total degree of c's nodes.  Q in [-1/2, 1); random partitions
    score ~0, strong community structure >0.3.

    Shape at scale: two node-keyed joins tag each edge's endpoints with
    their community, then every aggregate is community-cardinality;
    m arrives as a single-row aggregate broadcast (no driver action).
    All inputs are exact integers; each community term is rounded to 9
    digits and DECIMAL-summed, so the composed SQL oracle (label CTE +
    this arithmetic) hash-matches bit-for-bit.

    Output: one row (n_communities, m_edges, modularity).
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    com = communities.select(F.col(node_col).alias("n"), F.col(community_col).alias("c"))
    tagged = (
        und.join(com.withColumnsRenamed({"n": "a", "c": "ca"}), "a")
        .join(com.withColumnsRenamed({"n": "b", "c": "cb"}), "b")
    )
    intra = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .union(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = deg.join(com, "n").groupBy("c").agg(F.sum("d").alias("d_c"))
    m_row = und.agg(F.count(F.lit(1)).alias("m"))
    per_c = (
        dc.join(intra, "c", "left")
        .withColumn("e_c", F.coalesce("e_c", F.lit(0)))
        .crossJoin(F.broadcast(m_row))
    )
    ratio = F.col("d_c") / (F.lit(2) * F.col("m"))
    term = F.round(F.col("e_c") / F.col("m") - ratio * ratio, 9).cast(
        "decimal(20,9)"
    )
    return per_c.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.max("m").cast("long").alias("m_edges"),
        F.round(F.sum(term).cast("double"), 6).alias("modularity"),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge
    list: a good HUB points at good authorities, a good AUTHORITY is
    pointed at by good hubs -- the mutual-reinforcement twin of
    PageRank, natural on bipartite graphs (suppliers->customers,
    queries->documents).

        h_i(u) = sum_{(u,v)} a_{i-1}(v);   a_i(v) = sum_{(u,v)} h_i(u)

    each L1-normalized per iteration (sum-normalization instead of the
    textbook L2: same fixpoint direction, but the normalizer is an
    exact DECIMAL one-row aggregate, so the unrolled-SQL oracle can
    match bit-for-bit -- the g1 discipline).  a_0 = 1 everywhere.

    Scale: per iteration, two edge-keyed join+agg rounds (map-side
    combined), each one `_superstep` that observes its own L1
    normalizer, so no one-row aggregate is joined back.  Returns (node,
    hub, authority) for every node, zeros where a side never scores.
    """
    e, _ = _superstep(edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst")))

    def half(scored: DataFrame, to: str, name: str) -> DataFrame:
        # each `to` node's summed edge scores (the last column of
        # `scored`) over the L1 total, which is observed as a decimal and
        # cast back to the sum's type; sized as a join's build side
        raw, m = _superstep(
            scored.groupBy(F.col(to).alias("node"))
            .agg(F.sum(F.col(scored.columns[-1]).cast(_DEC)).alias("__raw")),
            total=F.sum("__raw"),
        )
        total = F.lit(m["total"]).cast(_DEC).cast("double")
        return _small(raw.select("node", (F.col("__raw").cast("double") / total).alias(name)), m["rows"])

    # a_0 = 1 on every node, and every non-null edge end is a node
    scored = e.filter(F.col("__dst").isNotNull()).withColumn("a", F.lit(1.0))
    for _ in range(iterations):
        hubs = half(scored, "__src", "h")
        auth = half(e.join(hubs, e["__src"] == hubs["node"]), "__dst", "a")
        scored = e.join(auth, e["__dst"] == auth["node"])
    return (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .join(hubs, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.round(F.coalesce(F.col("h"), F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce(F.col("a"), F.lit(0.0)), 6).alias("authority"),
        )
    )


def betweenness_approx(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 8,
    directed: bool = False,
) -> DataFrame:
    """Sampled Brandes betweenness centrality (unweighted): run the
    exact Brandes dependency accumulation from the given source nodes
    only, and report per node the summed dependency -- the standard
    estimator (Brandes & Pich 2007); with `sources` = all nodes it IS
    exact betweenness (pytest-asserted against a pure-Python replica).

    Both phases stay set-at-a-time over ALL sources simultaneously,
    keyed by (source, node) -- never a per-source driver loop:

    forward: BFS levels carry sigma (shortest-path counts); level h+1's
    sigma is the per-(source, node) SUM of its level-h predecessors'
    sigmas (one frontier-edge equi-join + one groupBy per level, the
    g6 superstep shape with an aggregation instead of a min-fold).

    backward: dependencies fold level-by-level in reverse --
    delta(v) = sum over successors w of sigma_v/sigma_w * (1+delta_w)
    -- one join of level h against level h+1 through the edge list per
    step.  Per-level frames are checkpointed, so lineage is O(1) per
    superstep; each level is one `_superstep` whose observed row count
    (the only driver traffic) ends the BFS and sizes its joins' builds.

    Endpoints are excluded per the classic definition; sources
    contribute no dependency to themselves.  Returns (node,
    betweenness) for every node reached, betweenness rounded 6.
    The g14 gate VALUE-checks this against DuckDB: the depth cap makes
    both recurrences unrollable into materialized per-level CTEs.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    # one `_superstep` per level and per accumulator frame: each feeds
    # TWO later consumers (the next level and the backward pass), and
    # the two recurrences compound -- without lineage truncation the
    # final plan nests every join of every round and the driver OOMs
    # compiling it (observed on a 30-node graph)
    e, _ = _superstep(e.distinct())

    lvl0, m = _superstep(
        sources.select(F.col("node")).distinct()
        .select(F.col("node").alias("s"), F.col("node"))
        .withColumn("sigma", F.lit(1.0))
    )
    levels, sizes = [lvl0], [m["rows"]]
    for _h in range(1, int(max_depth) + 1):
        frontier = levels[-1]
        if directed:
            # directed graphs admit back-edges to nodes at ANY shallower
            # distance (a->b->c->a puts a's predecessor 2 levels up), so
            # the seen set must be the full accumulation -- the two-level
            # shortcut below is an undirected-only invariant
            recent = levels[0].select("s", "node")
            for fr in levels[1:]:
                recent = recent.union(fr.select("s", "node"))
        else:
            # in unweighted UNDIRECTED BFS a frontier node's neighbors sit
            # at distance h-1, h, or h+1, so the already-seen check only
            # needs the LAST TWO levels -- the anti-join input stays
            # frontier-sized instead of accumulating O(V * depth)
            recent = levels[-1].select("s", "node")
            if len(levels) > 1:
                recent = recent.union(levels[-2].select("s", "node"))
        nxt, m = _superstep(
            _small(frontier, sizes[-1]).join(e, frontier["node"] == e["a"])
            .select("s", F.col("b").alias("node"), "sigma")
            .join(_small(recent, sum(sizes)), ["s", "node"], "left_anti")  # bounds either seen set
            .groupBy("s", "node")
            .agg(F.sum("sigma").alias("sigma")),
        )
        if not m["rows"]:
            break
        levels.append(nxt)
        sizes.append(m["rows"])

    # backward: delta starts 0 everywhere; fold from the deepest level up
    acc = [
        levels[-1].select("s", "node", "sigma").withColumn("delta", F.lit(0.0))
    ]  # acc[0] = deepest level's (s, node, sigma, delta)
    for h in range(len(levels) - 2, -1, -1):
        cur = levels[h]
        succ = acc[-1]
        contrib = (
            _small(cur, sizes[h]).join(e, cur["node"] == e["a"])
            .select("s", "node", "sigma", F.col("b").alias("w"))
            .join(
                _small(succ, sizes[h + 1]).select(
                    "s",
                    F.col("node").alias("w"),
                    F.col("sigma").alias("sigma_w"),
                    F.col("delta").alias("delta_w"),
                ),
                ["s", "w"],
            )
            .groupBy("s", "node", "sigma")
            .agg(
                F.sum(
                    (F.col("sigma") / F.col("sigma_w")) * (F.lit(1.0) + F.col("delta_w"))
                ).alias("delta")
            )
        )
        full, _ = _superstep(
            cur.join(contrib.select("s", "node", "delta"), ["s", "node"], "left")
            .select(
                "s", "node", "sigma",
                F.coalesce(F.col("delta"), F.lit(0.0)).alias("delta"),
            )
        )
        acc.append(full)

    all_deltas = acc[0]
    for fr in acc[1:]:
        all_deltas = all_deltas.unionByName(fr)
    return (
        all_deltas.filter(F.col("s") != F.col("node"))  # endpoints excluded
        .groupBy("node")
        .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_peels: int = 30,
    max_prop_rounds: int = 60,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph by iterated
    forward/backward min-label propagation (the distributed "coloring"
    peel -- Orzan 2004; the label-propagation half of FW-BW SCC).
    Returns (node, scc_id) with scc_id = the minimum node id in each
    SCC.

    Each peel round computes, over the still-unassigned subgraph,
      fwd(v) = min id over {v} + ancestors(v)   (labels flow ALONG edges)
      bwd(v) = min id over {v} + descendants(v) (labels flow AGAINST edges)
    fwd(v) == bwd(v) == m certifies m reaches v AND v reaches m, so
    those nodes are exactly SCC(m); they settle and their edges drop
    out.  The SCC of the globally minimal unassigned node settles every
    round (usually far more do), so the peel terminates; acyclic
    regions settle as singletons in the round their neighborhood
    cycles are gone.

    Scale shape: every step is an equi-join/groupBy on node ids over
    the shrinking edge set -- no closure materialization (the oracle's
    reachability-pair blowup is exactly what this avoids); the two
    directions propagate SIMULTANEOUSLY over one bidirectional edge
    frame (src, dst, fwd) -- each edge once per direction plus one
    NULL-`fwd` row per node that carries its own labels -- so the loop
    length is max(fwd diameter, bwd diameter) rather than their sum.  A
    round is ONE join of that frame with the labels of `src` (none in a
    peel's first round, where every label is its node) and ONE
    groupBy on `dst`, checkpointed by one `_superstep` that observes
    `changed` (nodes whose label moved) and `open` (nodes with flabel !=
    blabel, i.e. not settled at the fixpoint).  The label frame is the
    join's build side, broadcast by its measured row count (`_small`).
    A peel ends when a round changes nothing; its `open` says whether
    another peel is needed, and only then is the edge frame restricted
    to the still-open nodes (one checkpoint).  Settled nodes are
    filters over each peel's last checkpoint, unioned once at the end.
    Rounds are bounded by the unassigned subgraph's diameter per
    propagation, peels by the SCC condensation depth; both
    driver-bounded via max_* args.

    Correctness guard: fwd/bwd labels are only uniform across an SCC
    AT FIXPOINT, so stopping label propagation early can settle members
    of one SCC under different scc_ids, and exhausting max_peels would
    silently drop still-active nodes.  Both caps therefore RAISE when
    hit before convergence (raise the max_* args for deep graphs)
    rather than return a wrong or partial assignment.
    """
    s, d = F.col(src), F.col(dst)
    e = (
        edges.filter(s.isNotNull() & d.isNotNull())
        .select(F.inline(F.array(*[
            F.struct(a.alias("src"), b.alias("dst"), F.lit(f).cast("boolean").alias("fwd"))
            for a, b, f in [(s, d, True), (d, s, False), (s, s, None), (d, d, None)]
        ])))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # a pair pushes its src's flabel along the edge (fwd), its blabel
    # against it (not fwd), and a node's own row (NULL) pushes both
    own = F.col("fwd").isNull()
    fl = F.min(F.when(F.coalesce("fwd", F.lit(True)), F.col("flabel")))
    bl = F.min(F.when(~F.coalesce("fwd", F.lit(False)), F.col("blabel")))
    settled = []
    for _ in range(max_peels):
        pairs = e.withColumns({"flabel": F.col("src"), "blabel": F.col("src")})
        for _ in range(max_prop_rounds):
            lab, m = _superstep(
                pairs.groupBy(F.col("dst").alias("node")).agg(
                    fl.alias("flabel"),
                    bl.alias("blabel"),
                    (
                        (fl < F.min(F.when(own, F.col("flabel"))))
                        | (bl < F.min(F.when(own, F.col("blabel"))))
                    ).cast("int").alias("__chg"),
                ),
                changed=F.sum("__chg"),
                open=F.sum((F.col("flabel") != F.col("blabel")).cast("int")),
            )
            lab = lab.drop("__chg")
            if not m["changed"]:
                break
            pairs = e.join(_small(lab.withColumnRenamed("node", "src"), m["rows"]), "src")
        else:
            raise RuntimeError(
                f"strongly_connected_components: label propagation did not "
                f"converge within max_prop_rounds={max_prop_rounds}; labels "
                f"are not SCC-uniform before fixpoint, so continuing would "
                f"assign wrong scc_ids.  Raise max_prop_rounds (needs >= the "
                f"unassigned subgraph's diameter)."
            )
        settled.append(
            lab.filter(F.col("flabel") == F.col("blabel"))
            .select("node", F.col("flabel").alias("scc_id"))
        )
        if not m["open"]:
            break
        active = lab.filter(F.col("flabel") != F.col("blabel")).select("node")
        e = (
            e.join(_small(active.toDF("src"), m["open"]), "src", "left_semi")
            .join(_small(active.toDF("dst"), m["open"]), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(
            f"strongly_connected_components: {m['open']} nodes "
            f"still unassigned after max_peels={max_peels}; returning "
            f"would silently drop them.  Raise max_peels (needs >= the "
            f"SCC condensation depth)."
        )
    return reduce(DataFrame.unionByName, settled)


def bipartite_projection(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_weight: int = 2,
    hub_cap: int = 50,
) -> DataFrame:
    """Project a bipartite src->dst graph onto the src side: an edge
    (s1, s2) for every src pair sharing a dst, weighted by the number
    of DISTINCT shared dst nodes (the co-purchase / co-authorship
    transform that turns transactions into a similarity graph the
    g1-g15 algorithms can run on).

    Scale guards, both essential at 100 TB: dst HUBS are dropped before
    the wedge pivot (a dst with d sources emits d^2 pairs -- one
    celebrity node otherwise dominates the output and the shuffle;
    same cap discipline as adamic_adar), and min_weight prunes the
    long tail of single-shared-dst pairs at the aggregate.  One
    groupBy + one self-join keyed on dst, both map-side combinable.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    deg = e.groupBy("d").agg(F.count(F.lit(1)).alias("__deg"))
    kept = e.join(
        deg.filter(F.col("__deg") <= int(hub_cap)).select("d"), "d", "left_semi"
    )
    a = kept.select(F.col("d"), F.col("s").alias("s1"))
    b = kept.select(F.col("d"), F.col("s").alias("s2"))
    return (
        a.join(b, "d")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .filter(F.col("weight") >= int(min_weight))
    )
