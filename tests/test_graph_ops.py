"""Unit tests for ops/graph.py on hand-built graphs: the registry
entries (x104/x150) verify against DuckDB oracles on fixture data;
these pin the SEMANTICS on graphs small enough to check by hand."""

from __future__ import annotations

from pyspark.sql import functions as F

from poc_parquet_publisher_spark.ops import graph


def _edges(spark, pairs):
    sym = pairs + [(v, u) for u, v in pairs]
    return spark.createDataFrame(sym, "u long, v long")


def test_bfs_levels_path_graph(spark):
    # 1-2-3-4-5 path: from node 1, levels are 1 node each for 4 hops
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    out = {
        r["dist"]: r["n_nodes"]
        for r in graph.bfs_levels(e).collect()
    }
    assert out == {0: 1, 1: 1, 2: 1, 3: 1}


def test_bfs_levels_star_plus_unreachable(spark):
    # star centered at 1 (leaves 2,3,4) plus a disconnected 10-11
    # component: everything reachable lands at hop 1, hops 2-3 are
    # EMPTY levels and must still report 0 (oracle parity)
    e = _edges(spark, [(1, 2), (1, 3), (1, 4), (10, 11)])
    out = {
        r["dist"]: r["n_nodes"]
        for r in graph.bfs_levels(e).collect()
    }
    assert out == {0: 1, 1: 3, 2: 0, 3: 0}


def test_bfs_levels_no_revisit_on_cycle(spark):
    # triangle 1-2-3: hop 2 must not re-reach the seed or hop-1 nodes
    e = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    out = {
        r["dist"]: r["n_nodes"]
        for r in graph.bfs_levels(e).collect()
    }
    assert out == {0: 1, 1: 2, 2: 0, 3: 0}


SF001 = "/root/testdata/sf0.001"


def test_clustering_coefficient_consistent_with_triangle_total(spark):
    """x360: lcc in [0,1]; per-node triangle credits sum to 3x the
    corpus triangle count (each triangle has three corners)."""
    from poc_parquet_publisher_spark.queries.extensions import (
        x210_triangle_count,
        x360_clustering_coefficient,
        _support2_edges,
    )

    rows = x360_clustering_coefficient(spark, SF001).collect()
    assert rows, "top-20 frame must be non-empty"
    for r in rows:
        assert 0.0 <= r["lcc"] <= 1.0
        wedges = r["degree"] * (r["degree"] - 1) // 2
        assert r["triangles"] <= wedges
    total = x210_triangle_count(spark, SF001).collect()[0]["n_triangles"]
    # recompute the full per-node credit sum (not just top-20)
    e = _support2_edges(spark, SF001)
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e.join(e2, e.v == e2.b2)
        .join(e3, (e.u == e3.a3) & (e2.c2 == e3.c3))
    )
    assert tri.count() == total


def test_adamic_adar_pairs_nonadjacent_and_hand_scored(spark):
    """x359: every reported pair is NON-adjacent in the support>=2
    graph, and the AA score matches a hand recomputation from the
    collected adjacency."""
    import math
    from collections import defaultdict

    from poc_parquet_publisher_spark.queries.extensions import (
        x359_adamic_adar,
        _support2_edges,
    )

    rows = x359_adamic_adar(spark, SF001).collect()
    assert rows
    edges = {
        (r["u"], r["v"])
        for r in _support2_edges(spark, SF001).collect()
    }
    adj = defaultdict(set)
    deg = defaultdict(int)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
        deg[u] += 1
        deg[v] += 1
    for r in rows:
        assert (r["u"], r["v"]) not in edges
        common = adj[r["u"]] & adj[r["v"]]
        assert len(common) == r["common_neighbors"]
        aa = sum(round(1.0 / math.log(deg[z]), 8) for z in common)
        assert abs(r["aa_score"] - round(aa, 6)) <= 1e-6


def test_degree_assortativity_bounded(spark):
    from poc_parquet_publisher_spark.queries.extensions import (
        x361_degree_assortativity,
    )

    r = x361_degree_assortativity(spark, SF001).collect()[0]
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_edges"] >= 1 and r["n_nodes"] >= 2


def test_katz_matches_adjacency_power_replay(spark):
    """x404: walk counts must equal successive adjacency-matrix powers
    applied to the all-ones vector, replayed in pure Python over the
    same edge set; and the integer 64*w1+8*w2+w3 ordering must match
    the alpha=1/8 damped sum's ordering on the emitted rows."""
    from collections import defaultdict

    from poc_parquet_publisher_spark.ops import graph as g
    from poc_parquet_publisher_spark.queries.extensions import (
        x404_katz_centrality,
    )
    from poc_parquet_publisher_spark.catalog import load_table
    from pyspark.sql import functions as F

    SF = "/root/testdata/sf0.001"
    li = load_table(spark, SF, "lineitem").filter(F.col("l_partkey") % 4 == 0)
    edges = [(r["u"], r["v"]) for r in
             g.symmetric_copurchase_edges(li).collect()]
    adj = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
    w = {n: 1 for n in adj}
    walks = []
    for _ in range(3):
        w = {n: sum(w[v] for v in adj[n]) for n in adj}
        walks.append(dict(w))
    out = x404_katz_centrality(spark, SF).collect()
    assert out, "empty katz output"
    for r in out:
        n = r["node"]
        assert (r["walks1"], r["walks2"], r["walks3"]) == (
            walks[0][n], walks[1][n], walks[2][n]
        ), n
        assert r["katz8"] == 64 * r["walks1"] + 8 * r["walks2"] + r["walks3"]
    # emitted order == damped-sum order (same ranking, float form)
    damped = [r["walks1"] / 8 + r["walks2"] / 64 + r["walks3"] / 512
              for r in out]
    assert damped == sorted(damped, reverse=True)
    # top-20 really are the global top-20
    all_k8 = sorted(
        (64 * walks[0][n] + 8 * walks[1][n] + walks[2][n] for n in adj),
        reverse=True,
    )[:20]
    assert [r["katz8"] for r in out] == all_k8[:len(out)]


def test_hub_removal_robustness_matches_python_replay(spark):
    """x423: replay both BFS runs in Python from the same edge set;
    contract: ablated reach <= full reach at cumulative level (hub
    removal can only disconnect), and reach_lost is their per-level
    difference."""
    from collections import defaultdict, deque

    from pyspark.sql import functions as F

    from poc_parquet_publisher_spark.catalog import load_table
    from poc_parquet_publisher_spark.ops import graph as g
    from poc_parquet_publisher_spark.queries.extensions import (
        x423_hub_removal_robustness,
    )

    SF = "/root/testdata/sf0.001"
    li = load_table(spark, SF, "lineitem").filter(F.col("l_partkey") % 4 == 0)
    edges = [(r["u"], r["v"]) for r in
             g.symmetric_copurchase_edges(li).collect()]
    deg = defaultdict(int)
    for u, _ in edges:
        deg[u] += 1
    hubs = set(
        u for u, _ in sorted(deg.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    )

    def bfs_counts(es, hops=3):
        adj = defaultdict(list)
        nodes = set()
        for u, v in es:
            adj[u].append(v)
            nodes.add(u)
        if not nodes:
            return {i: 0 for i in range(hops + 1)}
        seed = min(nodes)
        dist = {seed: 0}
        q = deque([seed])
        while q:
            n = q.popleft()
            if dist[n] >= hops:
                continue
            for m in adj[n]:
                if m not in dist:
                    dist[m] = dist[n] + 1
                    q.append(m)
        out = {i: 0 for i in range(hops + 1)}
        for d in dist.values():
            out[d] += 1
        return out

    full = bfs_counts(edges)
    abl = bfs_counts(
        [(u, v) for u, v in edges if u not in hubs and v not in hubs]
    )
    out = {r["level"]: r for r in
           x423_hub_removal_robustness(spark, SF).collect()}
    assert sorted(out) == [0, 1, 2, 3]
    cum_f = cum_a = 0
    for lvl in range(4):
        r = out[lvl]
        assert r["reached_full"] == full[lvl], lvl
        assert r["reached_ablated"] == abl[lvl], lvl
        assert r["reach_lost"] == full[lvl] - abl[lvl]
        cum_f += full[lvl]
        cum_a += abl[lvl]
        assert cum_a <= cum_f
