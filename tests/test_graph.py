"""PageRank: hand-checked fixtures + invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from uofi_payroll_etl_main_spark.graph import pagerank


def test_pagerank_two_node_cycle(spark):
    """a<->b is symmetric: both converge to 0.5 at every iteration."""
    e = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    out = {r["node"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
    assert abs(out["a"] - 0.5) < 1e-12 and abs(out["b"] - 0.5) < 1e-12


def test_pagerank_star_hand_computed(spark):
    """Three leaves pointing at a hub, one iteration:
    hub = (1-d)/4 + d * 3 * (1/4); leaf = (1-d)/4."""
    e = spark.createDataFrame(
        [("l1", "hub"), ("l2", "hub"), ("l3", "hub")], "src string, dst string"
    )
    out = {r["node"]: r["rank"] for r in pagerank(e, iterations=1, damping=0.85).collect()}
    base = (1.0 - 0.85) / 4
    assert abs(out["hub"] - (base + 0.85 * 0.75)) < 1e-12
    for leaf in ("l1", "l2", "l3"):
        assert abs(out[leaf] - base) < 1e-12


def test_pagerank_mass_leaks_only_via_dangling(spark):
    """With no dangling nodes total rank mass stays 1; ranks positive."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    rows = pagerank(e, iterations=3).collect()
    assert all(r["rank"] > 0 for r in rows)
    assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-9


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    """a->b->c with c dangling: default leaks c's damped mass, the
    redistribution option conserves total rank = 1 every iteration."""
    e = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    leaky = sum(r["rank"] for r in pagerank(e, iterations=5).collect())
    assert leaky < 1.0 - 1e-6  # documents the simplified formulation
    full = pagerank(e, iterations=5, redistribute_dangling=True).collect()
    assert abs(sum(r["rank"] for r in full) - 1.0) < 1e-9
    assert all(r["rank"] > 0 for r in full)


def test_pagerank_dangling_hand_computed_one_iteration(spark):
    """a->b, b dangling, d=0.5, N=2.  rank_0 = .5 each.
    pre-redistribution: b = (1-d)/2 + d*.5 = .5, a = .25;
    dangling mass (b, rank_0=.5) spreads d*.5/2 = .125 to both."""
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    out = {
        r["node"]: r["rank"]
        for r in pagerank(
            e, iterations=1, damping=0.5, redistribute_dangling=True
        ).collect()
    }
    assert abs(out["a"] - (0.25 + 0.125)) < 1e-12
    assert abs(out["b"] - (0.5 + 0.125)) < 1e-12


def test_pagerank_tol_stops_early_and_matches_long_run(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "b")],
        "src string, dst string",
    )
    converged = {
        r["node"]: r["rank"]
        for r in pagerank(e, iterations=100, tol=1e-9).collect()
    }
    long_run = {r["node"]: r["rank"] for r in pagerank(e, iterations=60).collect()}
    for k in long_run:
        assert abs(converged[k] - long_run[k]) < 1e-6


# ---------------------------------------------------------------- CC


def _uf_components(edges, nodes):
    """Independent oracle: pure-Python union-find."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id per component
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _cc_spark(spark, edges):
    from uofi_payroll_etl_main_spark.graph import connected_components

    e = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["component"]
        for r in connected_components(e).collect()
    }


def test_cc_two_chains_and_isolate(spark):
    edges = [(1, 2), (2, 3), (10, 11), (5, 5)]
    nodes = {1, 2, 3, 10, 11, 5}
    assert _cc_spark(spark, edges) == _uf_components(edges, nodes)


def test_cc_long_path_exceeds_propagation_depth(spark):
    """A 40-node path has diameter 39: star contraction must still
    resolve it in O(log n) rounds (well under max_iterations=50,
    where per-round label propagation would need 39)."""
    edges = [(i, i + 1) for i in range(40)]
    nodes = set(range(41))
    out = _cc_spark(spark, edges)
    assert out == _uf_components(edges, nodes)
    assert set(out.values()) == {0}


def test_cc_random_graphs_match_union_find(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(50 + trial * 20)
        ]
        nodes = {x for e in edges for x in e}
        assert _cc_spark(spark, edges) == _uf_components(edges, nodes), edges


# ------------------------------------------------------- triangles


def _tri_brute(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in und for x in e})
    adj = {n: set() for n in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    cnt = 0
    for i, a in enumerate(nodes):
        for b in (x for x in adj[a] if x > a):
            cnt += sum(1 for c in (adj[a] & adj[b]) if c > b)
    return cnt


def test_triangle_count_k4(spark):
    from uofi_payroll_etl_main_spark.graph import triangle_count

    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    e = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(e).collect()[0]["triangles"] == 4


def test_triangle_count_random_matches_brute_force(spark):
    import random

    from uofi_payroll_etl_main_spark.graph import triangle_count

    rng = random.Random(11)
    for _ in range(3):
        edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(80)]
        e = spark.createDataFrame(edges, "src long, dst long")
        got = triangle_count(e).collect()[0]["triangles"]
        assert got == _tri_brute(edges)


def test_triangle_count_duplicate_and_reversed_edges_ignored(spark):
    from uofi_payroll_etl_main_spark.graph import triangle_count

    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(e).collect()[0]["triangles"] == 1


def test_degree_stats_hand_checked(spark):
    from uofi_payroll_etl_main_spark.graph import degree_stats

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    out = {r["node"]: (r["out_degree"], r["in_degree"], r["degree"]) for r in degree_stats(e).collect()}
    assert out == {"a": (2, 1, 3), "b": (1, 1, 2), "c": (1, 2, 3)}


def test_label_propagation_two_triangles_bridge(spark):
    """Two tight triangles joined by one bridge edge: after two sync
    rounds each triangle converges to its own min label."""
    from pyspark.sql import Row

    from uofi_payroll_etl_main_spark.graph import label_propagation

    edges = spark.createDataFrame(
        [
            Row(src="a1", dst="a2"), Row(src="a2", dst="a3"), Row(src="a1", dst="a3"),
            Row(src="b1", dst="b2"), Row(src="b2", dst="b3"), Row(src="b1", dst="b3"),
            Row(src="a3", dst="b1"),
        ]
    )
    got = {r.node: r.label for r in label_propagation(edges, iterations=2).collect()}
    assert got["a1"] == got["a2"] == "a1"
    assert got["b2"] == got["b3"]
    # deterministic across reruns
    again = {r.node: r.label for r in label_propagation(edges, iterations=2).collect()}
    assert got == again


class TestBfsHops:
    def test_known_graph(self, spark):
        from uofi_payroll_etl_main_spark.graph import bfs_hops

        # 1-2-3-4 path, 5-6 separate component, 7 isolated source
        edges = spark.createDataFrame(
            [("1", "2"), ("2", "3"), ("3", "4"), ("5", "6")], "src string, dst string"
        )
        srcs = spark.createDataFrame([("1",), ("7",)], "node string")
        got = dict(
            (r["node"], r["hops"]) for r in bfs_hops(edges, srcs, max_hops=6).collect()
        )
        assert got == {"1": 0, "2": 1, "3": 2, "4": 3, "7": 0}

    def test_hop_cap_and_min_fold(self, spark):
        from uofi_payroll_etl_main_spark.graph import bfs_hops

        # ring 1-2-3-4-5-1: two directions meet; cap stops expansion
        edges = spark.createDataFrame(
            [("1", "2"), ("2", "3"), ("3", "4"), ("4", "5"), ("5", "1")],
            "src string, dst string",
        )
        srcs = spark.createDataFrame([("1",)], "node string")
        got = dict(
            (r["node"], r["hops"]) for r in bfs_hops(edges, srcs, max_hops=1).collect()
        )
        # undirected: both neighbors at hop 1, rest unreached
        assert got == {"1": 0, "2": 1, "5": 1}

    def test_directed_mode(self, spark):
        from uofi_payroll_etl_main_spark.graph import bfs_hops

        edges = spark.createDataFrame([("1", "2"), ("3", "1")], "src string, dst string")
        srcs = spark.createDataFrame([("1",)], "node string")
        got = dict(
            (r["node"], r["hops"])
            for r in bfs_hops(edges, srcs, max_hops=3, directed=True).collect()
        )
        assert got == {"1": 0, "2": 1}  # 3->1 not traversable forward


class TestShortestPaths:
    def test_cheaper_path_via_more_hops(self, spark):
        from uofi_payroll_etl_main_spark.graph import shortest_paths

        # direct 1->4 costs 10; the 3-hop route costs 3
        edges = spark.createDataFrame(
            [("1", "4", 10), ("1", "2", 1), ("2", "3", 1), ("3", "4", 1)],
            "src string, dst string, w long",
        )
        srcs = spark.createDataFrame([("1",)], "node string")
        got = dict(
            (r["node"], r["cost"])
            for r in shortest_paths(edges, srcs, max_hops=4).collect()
        )
        assert got == {"1": 0, "2": 1, "3": 2, "4": 3}

    def test_hop_cap_limits_relaxation(self, spark):
        from uofi_payroll_etl_main_spark.graph import shortest_paths

        edges = spark.createDataFrame(
            [("1", "4", 10), ("1", "2", 1), ("2", "3", 1), ("3", "4", 1)],
            "src string, dst string, w long",
        )
        srcs = spark.createDataFrame([("1",)], "node string")
        got = dict(
            (r["node"], r["cost"])
            for r in shortest_paths(edges, srcs, max_hops=1).collect()
        )
        # within 1 hop the direct (expensive) edge is the only route to 4
        assert got == {"1": 0, "2": 1, "4": 10}

    def test_undirected_and_multi_source_min(self, spark):
        from uofi_payroll_etl_main_spark.graph import shortest_paths

        edges = spark.createDataFrame(
            [("a", "b", 5), ("c", "b", 2)], "src string, dst string, w long"
        )
        srcs = spark.createDataFrame([("a",), ("c",)], "node string")
        got = dict(
            (r["node"], r["cost"])
            for r in shortest_paths(edges, srcs, max_hops=2).collect()
        )
        assert got == {"a": 0, "c": 0, "b": 2}


class TestKCore:
    @staticmethod
    def _py_kcore(edges, k):
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in [n for n, nb in adj.items() if len(nb) < k]:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
        return {n: len(nb) for n, nb in adj.items() if nb}

    def test_matches_python_peel(self, spark):
        from uofi_payroll_etl_main_spark.graph import k_core

        # triangle+tail: the tail peels away round by round, the
        # triangle survives as the 2-core; plus an isolated 4-clique
        edges = [
            ("a", "b"), ("b", "c"), ("c", "a"),          # triangle
            ("c", "d"), ("d", "e"), ("e", "f"),          # tail
            ("p", "q"), ("p", "r"), ("p", "s"),
            ("q", "r"), ("q", "s"), ("r", "s"),          # 4-clique
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        for k in (2, 3, 4):
            expect = self._py_kcore(edges, k)
            got = {r["node"]: r["core_degree"] for r in k_core(df, k=k).collect()}
            assert got == expect, f"k={k}"
        # k=2: triangle + clique survive, the tail is gone
        got2 = set(k_core(df, k=2).toPandas()["node"])
        assert got2 == {"a", "b", "c", "p", "q", "r", "s"}
        # k=3: only the clique
        got3 = set(k_core(df, k=3).toPandas()["node"])
        assert got3 == {"p", "q", "r", "s"}

    def test_matches_python_peel_on_corpus_graph(self, spark, sf_dir):
        import __spark_entry__ as entrymod

        from uofi_payroll_etl_main_spark.io import load_table

        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        from pyspark.sql import functions as F

        edges = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select(
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
                F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
            )
            .distinct()
        )
        pairs = [(r["src"], r["dst"]) for r in edges.collect()]
        expect = self._py_kcore(pairs, 3)
        got = {r["node"]: r["core_degree"]
               for r in entrymod.queries()["g8_kcore"](spark, sf_dir).collect()}
        assert got == expect and len(got) > 0

    def test_empty_edge_frame(self, spark):
        from uofi_payroll_etl_main_spark.graph import k_core

        df = spark.createDataFrame([], "src long, dst long")
        assert k_core(df, k=2).collect() == []


class TestPersonalizedPageRank:
    def test_seed_restart_properties(self, spark):
        from uofi_payroll_etl_main_spark.graph import personalized_pagerank

        # two disjoint triangles; seed only in community A -- community
        # B is unreachable from the teleport set, so its rank is
        # EXACTLY zero (the defining property vs. uniform PageRank)
        edges = [
            ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
            ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        seeds = spark.createDataFrame([("a1",)], "node string")
        r = {x["node"]: x["rank"] for x in personalized_pagerank(df, seeds).collect()}
        assert r["b1"] == r["b2"] == r["b3"] == 0.0
        # the seed keeps at least its restart mass (1-d)*1
        assert r["a1"] >= 0.15
        assert all(v >= 0 for v in r.values())

    def test_matches_numpy_power_iteration(self, spark):
        import numpy as np

        from uofi_payroll_etl_main_spark.graph import personalized_pagerank

        edges = [("x", "y"), ("y", "z"), ("z", "x"), ("x", "z"), ("w", "x")]
        nodes = sorted({n for e in edges for n in e})
        idx = {n: i for i, n in enumerate(nodes)}
        df = spark.createDataFrame(edges, "src string, dst string")
        seeds = spark.createDataFrame([("x",), ("w",)], "node string")
        got = {r["node"]: r["rank"] for r in personalized_pagerank(df, seeds, iterations=3).collect()}

        tele = np.zeros(len(nodes)); tele[idx["x"]] = 0.5; tele[idx["w"]] = 0.5
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        r = tele.copy()
        for _ in range(3):
            nxt = 0.15 * tele
            for s, d in edges:
                nxt[idx[d]] += 0.85 * r[idx[s]] / outdeg[s]
            r = nxt
        for n in nodes:
            assert abs(got[n] - r[idx[n]]) < 1e-12, n


def test_hits_star_graph_hub_and_authorities(spark):
    import pytest

    """One hub pointing at 3 sinks: the hub gets all hub mass; the
    3 authorities split authority mass evenly.  A second weak hub
    pointing at one of them shifts authority toward the shared sink."""
    from uofi_payroll_etl_main_spark.graph import hits

    edges = spark.createDataFrame(
        [("h", "x"), ("h", "y"), ("h", "z")], ["src", "dst"]
    )
    got = {r.node: r for r in hits(edges, iterations=2).collect()}
    assert got["h"].hub == 1.0 and got["h"].authority == 0.0
    for leaf in "xyz":
        assert got[leaf].authority == pytest.approx(1 / 3, abs=1e-6)
        assert got[leaf].hub == 0.0

    edges2 = spark.createDataFrame(
        [("h", "x"), ("h", "y"), ("h", "z"), ("w", "x")], ["src", "dst"]
    )
    got2 = {r.node: r for r in hits(edges2, iterations=2).collect()}
    assert got2["x"].authority > got2["y"].authority  # extra in-link wins
    assert got2["h"].hub > got2["w"].hub  # 3-out hub beats 1-out hub
    assert sum(r.authority for r in got2.values()) == pytest.approx(1.0, abs=1e-5)


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    import pytest

    from uofi_payroll_etl_main_spark.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    w1 = edges.withColumn("w", F.lit(7))  # uniform weights: same distribution
    plain = {r.node: r.rank for r in pagerank(edges, iterations=3).collect()}
    weighted = {r.node: r.rank
                for r in pagerank(w1, iterations=3, weight_col="w").collect()}
    for n in plain:
        assert weighted[n] == pytest.approx(plain[n], abs=1e-12)

    # skewed weights steer the mass: a sends 9/10 of its vote to b
    skew = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1)],
        ["src", "dst", "w"],
    )
    s = {r.node: r.rank for r in pagerank(skew, iterations=3, weight_col="w").collect()}
    assert s["b"] > weighted["b"]  # b gains vs the uniform split


def _brandes_reference(nodes, adj):
    """Pure-Python Brandes (directed-pair counting, endpoints excluded)
    -- the independent replica the distributed version must equal when
    run from ALL sources."""
    from collections import deque

    bc = {v: 0.0 for v in nodes}
    for s in nodes:
        order = []
        preds = {v: [] for v in nodes}
        sigma = {v: 0 for v in nodes}
        sigma[s] = 1
        dist = {v: -1 for v in nodes}
        dist[s] = 0
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in nodes}
        while order:
            w = order.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_exact_vs_reference(spark):
    import random

    from uofi_payroll_etl_main_spark.graph import betweenness_approx

    rnd = random.Random(4)
    n = 24
    edges = set()
    while len(edges) < 40:
        a, b = rnd.randrange(n), rnd.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = _brandes_reference(list(range(n)), adj)
    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    sdf = spark.createDataFrame([(v,) for v in range(n)], "node long")
    got = {
        r.node: r.betweenness
        for r in betweenness_approx(edf, sdf, max_depth=n).collect()
    }
    for v in range(n):
        assert abs(got.get(v, 0.0) - want[v]) <= 1e-6, (v, got.get(v), want[v])


def test_betweenness_directed_cycle(spark):
    # directed 3-cycle a->b->c->a: each node is the sole intermediate on
    # exactly one shortest path, so betweenness is 1.0 per node.  This is
    # the case the two-level seen-set shortcut corrupts (back-edges reach
    # nodes at distance <= h-2), so directed mode must keep the full set.
    from uofi_payroll_etl_main_spark.graph import betweenness_approx

    edf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    sdf = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    got = {
        r.node: r.betweenness
        for r in betweenness_approx(edf, sdf, max_depth=5, directed=True).collect()
    }
    assert got == {"a": 1.0, "b": 1.0, "c": 1.0}, got


def test_betweenness_directed_random_vs_reference(spark):
    import random

    from uofi_payroll_etl_main_spark.graph import betweenness_approx

    rnd = random.Random(11)
    n = 16
    edges = set()
    while len(edges) < 34:
        a, b = rnd.randrange(n), rnd.randrange(n)
        if a != b:
            edges.add((a, b))  # directed: keep orientation
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
    want = _brandes_reference(list(range(n)), adj)
    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    sdf = spark.createDataFrame([(v,) for v in range(n)], "node long")
    got = {
        r.node: r.betweenness
        for r in betweenness_approx(
            edf, sdf, max_depth=n, directed=True
        ).collect()
    }
    for v in range(n):
        assert abs(got.get(v, 0.0) - want[v]) <= 1e-6, (v, got.get(v), want[v])


def test_betweenness_sampling_and_depth_cap(spark):
    # path graph 0-1-2-3-4: from source 0 only, deltas are 3,2,1 for
    # nodes 1,2,3 (and 0 for endpoints); a depth cap of 2 truncates the
    # walk so node 3 sees only the 0->3 contribution through depth<=2
    from uofi_payroll_etl_main_spark.graph import betweenness_approx

    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src long, dst long"
    )
    s0 = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.betweenness
        for r in betweenness_approx(edf, s0, max_depth=10).collect()
    }
    assert got[1] == 3.0 and got[2] == 2.0 and got[3] == 1.0
    assert got.get(0, 0.0) == 0.0 and got.get(4, 0.0) == 0.0
    capped = {
        r.node: r.betweenness
        for r in betweenness_approx(edf, s0, max_depth=2).collect()
    }
    # only paths of length <= 2 exist: 0->1->2, so node 1 carries 1.0
    assert capped[1] == 1.0 and capped.get(2, 0.0) == 0.0


def test_scc_matches_tarjan(spark):
    """strongly_connected_components vs a brute-force mutual-
    reachability closure on a graph with nested cycles, a DAG tail,
    cross-SCC edges to smaller ids, a self-loop, and a pure-DAG pair."""
    from uofi_payroll_etl_main_spark.graph import strongly_connected_components

    E = [
        (5, 6), (6, 5),              # 2-cycle with a smaller ancestor
        (1, 5),                      # ancestor outside the SCC
        (2, 3), (3, 4), (4, 2),      # 3-cycle
        (4, 7), (7, 8),              # DAG tail
        (8, 9), (9, 10), (10, 8),    # cycle fed by the tail
        (10, 2),                     # back-edge: merges 2..10 into one SCC? (closure decides)
        (11, 11),                    # self-loop
        (12, 13),                    # pure DAG pair
    ]
    df = spark.createDataFrame(E, "src long, dst long")
    got = {
        r["node"]: r["scc_id"]
        for r in strongly_connected_components(df).collect()
    }

    # brute-force transitive closure (obviously correct on 13 nodes)
    nodes = sorted({v for e in E for v in e})
    reach = {v: {w for a, w in E if a == v} for v in nodes}
    changed = True
    while changed:
        changed = False
        for v in nodes:
            ext = set().union(*(reach[w] for w in reach[v])) if reach[v] else set()
            if not ext <= reach[v]:
                reach[v] |= ext
                changed = True
    want = {
        v: min([v] + [w for w in nodes if w in reach[v] and v in reach[w]])
        for v in nodes
    }
    assert got == want, (got, want)


def test_bipartite_projection_weights_and_hub_cap(spark):
    """bipartite_projection: shared-dst counts are exact, the hub cap
    really drops celebrity dst nodes before the wedge pivot, and
    min_weight prunes single-shared pairs."""
    from uofi_payroll_etl_main_spark.graph import bipartite_projection

    E = []
    # s1, s2 share customers c1 and c2 (weight 2)
    E += [(1, "c1"), (2, "c1"), (1, "c2"), (2, "c2")]
    # s1, s3 share only c3 (weight 1 -> pruned)
    E += [(1, "c3"), (3, "c3")]
    # hub customer shared by everyone -> dropped at cap 3
    E += [(s, "hub") for s in (1, 2, 3, 4)]
    df = spark.createDataFrame(E, "src long, dst string")
    got = {
        (r["s1"], r["s2"]): r["weight"]
        for r in bipartite_projection(df, min_weight=2, hub_cap=3).collect()
    }
    assert got == {(1, 2): 2}
    # without the cap the hub links every pair
    nocap = {
        (r["s1"], r["s2"]): r["weight"]
        for r in bipartite_projection(df, min_weight=2, hub_cap=100).collect()
    }
    assert (3, 4) not in got and nocap[(1, 2)] == 3


def test_scc_raises_when_caps_exhausted(spark):
    """strongly_connected_components: exhausting max_prop_rounds or
    max_peels before convergence RAISES instead of returning wrong or
    partial assignments (ADVICE r7: pre-fixpoint labels are not
    SCC-uniform; dropped active nodes would vanish silently)."""
    import pytest as _pytest

    from uofi_payroll_etl_main_spark.graph import strongly_connected_components

    # 5-cycle: min-label needs ~4 propagation rounds to cross it
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="max_prop_rounds"):
        strongly_connected_components(cyc, max_prop_rounds=1)

    # chain 1->2->3 settles one node per peel: 1 peel cannot finish
    chain = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="max_peels"):
        strongly_connected_components(chain, max_peels=1)

    # sanity: generous caps still converge on both graphs
    got = {
        r["node"]: r["scc_id"]
        for r in strongly_connected_components(cyc).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_scc_empty_self_loops_and_chain(spark):
    """strongly_connected_components on the fixpoint's edge cases: an
    empty edge frame (the observed sums are NULL), self-loops only
    (every node its own SCC, settled in the first peel), and a chain
    that settles one node per peel, so the observed `open` count has to
    carry the loop across four peels."""
    from uofi_payroll_etl_main_spark.graph import strongly_connected_components

    def scc(pairs):
        df = spark.createDataFrame(pairs, "src long, dst long")
        return {
            r["node"]: r["scc_id"]
            for r in strongly_connected_components(df).collect()
        }

    assert scc([]) == {}
    assert scc([(1, 1), (2, 2), (3, 3)]) == {1: 1, 2: 2, 3: 3}
    assert scc([(1, 2), (2, 3), (3, 4)]) == {1: 1, 2: 2, 3: 3, 4: 4}


def _sf001(sf_dir: str) -> str:
    """The sf0.01 corpus that sits beside the fixture's sf0.001 one."""
    import os

    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


def test_scc_rounds_broadcast_measured_labels(spark, sf_dir, monkeypatch):
    """g15_scc at sf0.01 builds in at most 40 jobs (69 while each round
    planned sort-merge joins against checkpoints whose size estimates
    compound round by round), and a propagation round joins the measured
    label frame by broadcast, with no sort-merge join left for AQE to
    demote."""
    import uuid

    import __spark_entry__ as entrymod

    from uofi_payroll_etl_main_spark import graph

    rounds = []
    superstep = graph._superstep

    def recording(df, **metrics):
        if "changed" in metrics:
            rounds.append(df)
        return superstep(df, **metrics)

    monkeypatch.setattr(graph, "_superstep", recording)
    sc = spark.sparkContext
    group = f"g15-scc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build g15_scc")
    try:
        entrymod.queries()["g15_scc"](spark, _sf001(sf_dir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 40
    # rounds[0] is the first round, which needs no labels; rounds[1] joins them
    round2 = rounds[1]
    round2.collect()
    plan = round2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_fixpoints_same_rows_without_broadcast_and_on_one_partition(spark, sf_dir):
    """The measured-size broadcast changes plans, never rows: the
    checkpointing fixpoints and rank iterations return the same rows
    with broadcasts off (threshold -1, so every measured join stays a
    shuffle join) and on a single shuffle partition as under the session
    defaults."""
    import __spark_entry__ as entrymod

    names = [
        "g15_scc", "g8_kcore", "g2_connected_components", "g14_betweenness",
        "g1_pagerank", "g5_label_propagation", "g6_bfs_hops", "g7_shortest_paths",
        "g9_personalized_pr", "g12_hits", "g13_weighted_pr",
    ]
    queries = entrymod.queries()

    def run():
        return {n: sorted(tuple(r) for r in queries[n](spark, _sf001(sf_dir)).collect()) for n in names}

    want = run()
    assert all(want.values())
    for key, value in [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.shuffle.partitions", "1"),
    ]:
        before = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            got = run()
        finally:
            spark.conf.set(key, before)
        assert got == want, key


def test_iterative_operators_cut_lineage_and_cache_nothing(spark, sf_dir):
    """Every iterative graph operator advances by `_superstep`
    checkpoints and reads its scalars off them: at sf0.01 g12_hits
    builds and collects in at most 20 jobs (over 130 while each
    half-iteration joined back a one-row normalizer over an unbroken
    lineage), g6_bfs_hops's optimized plan is a flat union of per-level
    checkpoints (tens of thousands of lines while each level's union
    nested the previous distance frame twice), and the rank, walk and
    propagation queries leave nothing in the session's cache."""
    import uuid

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    sc = spark.sparkContext
    group = f"g12-hits-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build and collect g12_hits")
    try:
        queries["g12_hits"](spark, _sf001(sf_dir)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 20

    bfs = queries["g6_bfs_hops"](spark, _sf001(sf_dir))
    assert len(bfs._jdf.queryExecution().optimizedPlan().toString().splitlines()) <= 1000

    spark.catalog.clearCache()
    for name in [
        "g1_pagerank", "g5_label_propagation", "g6_bfs_hops", "g7_shortest_paths",
        "g9_personalized_pr", "g11_modularity", "g12_hits",
    ]:
        queries[name](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
