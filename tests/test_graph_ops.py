"""Brute-force cross-checks for triangle counting and neighbor
Jaccard (operators/graph.py) on adversarial small graphs — including
a hub node, which is exactly what the degree-ordered orientation must
survive."""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pytest

from bio_lakehouse_spark.operators.graph import (
    neighbor_jaccard_topk,
    triangle_stats,
)

RNG = np.random.default_rng(7)


def _random_graph_with_hub(n=30, p=0.2):
    edges = {(i, j) for i, j in combinations(range(n), 2) if RNG.random() < p}
    hub = n  # node connected to everyone — the orientation stress case
    edges |= {(i, hub) for i in range(n)}
    return sorted(edges)


@pytest.fixture(scope="module")
def graph(spark):
    edges = _random_graph_with_hub()
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )
    return edges, df


def _brute_triangles(edges):
    es = set(edges)
    nodes = sorted({x for e in edges for x in e})
    adj = {u: set() for u in nodes}
    for a, b in es:
        adj[a].add(b)
        adj[b].add(a)
    tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    wedges = sum(len(adj[u]) * (len(adj[u]) - 1) // 2 for u in nodes)
    return len(nodes), len(es), wedges, tri, adj


def test_triangle_stats_matches_bruteforce(graph):
    edges, df = graph
    n_nodes, n_edges, wedges, tri, _ = _brute_triangles(edges)
    row = triangle_stats(df, "src", "dst").collect()[0]
    assert row["n_nodes"] == n_nodes
    assert row["n_edges"] == n_edges
    assert row["n_wedges"] == wedges
    assert row["n_triangles"] == tri
    assert row["clustering"] == pytest.approx(3 * tri / wedges, rel=1e-12)


def test_triangle_stats_dedupes_and_canonicalizes(spark):
    # duplicate edges, reversed duplicates, and self-loops must not count
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (4, 4)],
        "src long, dst long",
    )
    row = triangle_stats(df).collect()[0]
    assert row["n_edges"] == 3
    assert row["n_triangles"] == 1
    assert row["n_nodes"] == 3


def test_neighbor_jaccard_matches_bruteforce(graph):
    edges, df = graph
    *_, adj = _brute_triangles(edges)
    want = {}
    for a, b in combinations(sorted(adj), 2):
        common = len(adj[a] & adj[b])
        if common:
            want[(a, b)] = common / (len(adj[a]) + len(adj[b]) - common)
    got = neighbor_jaccard_topk(df, k=10**6).collect()
    assert len(got) == len(want)
    for r in got:
        assert r["jaccard"] == pytest.approx(
            want[(r["s1"], r["s2"])], rel=1e-12
        )


def test_neighbor_jaccard_hub_cap_drops_hub_centers(graph):
    edges, df = graph
    hub = max(x for e in edges for x in e)
    # With the hub allowed as a center, many pairs share only the hub;
    # capping max_degree below the hub's degree must remove every pair
    # whose ONLY common neighbor is the hub.
    full = {
        (r["s1"], r["s2"]): r["common"]
        for r in neighbor_jaccard_topk(df, k=10**6).collect()
    }
    capped = {
        (r["s1"], r["s2"]): r["common"]
        for r in neighbor_jaccard_topk(df, k=10**6, max_degree=25).collect()
    }
    only_hub = {p for p, c in full.items() if c == 1 and hub not in p}
    # pairs whose single common neighbor was the hub disappear or keep
    # non-hub neighbors; every surviving count is <= the uncapped one
    for p, c in capped.items():
        assert c <= full[p]
    assert any(p not in capped for p in only_hub) or not only_hub


def _bipartite_edges(n_h=12, n_a=9):
    rng = np.random.default_rng(11)
    return sorted(
        {(int(rng.integers(n_h)), 100 + int(rng.integers(n_a)))
         for _ in range(60)}
    )


def test_hits_matches_numpy_power_iteration(spark):
    """HITS on a random bipartite graph vs the numpy mutual power
    iteration (same L2 normalization, same iteration count)."""
    from bio_lakehouse_spark.operators.graph import hits

    n_h, n_a = 12, 9
    edges = _bipartite_edges(n_h, n_a)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["role"], r["v"]): r["score"]
        for r in hits(df, iters=3).collect()
    }

    A = np.zeros((n_h, n_a))
    for s, d in edges:
        A[s, d - 100] = 1.0
    hub_nodes = sorted({s for s, _ in edges})
    auth_nodes = sorted({d for _, d in edges})
    h = np.array([1.0 if i in hub_nodes else 0.0 for i in range(n_h)])
    for _ in range(3):
        a = A.T @ h
        a = a / np.sqrt((a * a).sum())
        h = A @ a
        h = h / np.sqrt((h * h).sum())
    for i in hub_nodes:
        assert abs(got[("hub", i)] - h[i]) < 1e-9
    for d in auth_nodes:
        assert abs(got[("auth", d)] - a[d - 100]) < 1e-9


def test_iterative_graph_jobs_per_round(spark, count_jobs):
    """The loop scalars (pagerank's dangling mass, the HITS norms) are
    observed inside each round's checkpoint job, so a pagerank
    iteration costs 3 Spark jobs and a HITS half-round 5."""
    from bio_lakehouse_spark.operators.graph import hits, pagerank

    df = spark.createDataFrame(_bipartite_edges(), "src long, dst long")
    sym = df.union(df.select("dst", "src"))

    def jobs(op, g, iters):
        return count_jobs(lambda: op(g, iters=iters))

    assert jobs(pagerank, sym, 3) - jobs(pagerank, sym, 1) <= 6
    assert jobs(hits, df, 3) - jobs(hits, df, 1) <= 20


# -- r11 edge-hunt: degenerate-input contracts -------------------------------


def test_graph_ops_degenerate_inputs(spark):
    """r11 edge-hunt pins for graph.py (VERDICT r10 #6): empty edge
    lists, self-loops, and wedge-free graphs must degrade cleanly —
    these inputs sit outside every fixture, so nothing else would
    notice a behavior shift. Contracts pinned:
    - empty edges → empty results for components/pagerank, a single
      degenerate stats row for triangle_stats (zero counts);
    - self-loops are dropped by triangle_stats' canonicalization and
      are harmless to connected_components;
    - a wedge-free graph (one isolated edge) reports clustering NULL
      (0/0 division), not a crash — callers must null-guard."""
    from bio_lakehouse_spark.operators.graph import (
        connected_components,
        pagerank,
        triangle_stats,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0
    assert pagerank(empty, iters=1).count() == 0
    row = triangle_stats(empty).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (0, 0, 0)

    loops = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2)], "src long, dst long"
    )
    row = triangle_stats(loops).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (2, 1, 0)
    comp = {
        r.node: r.component for r in connected_components(loops).collect()
    }
    assert comp == {1: 1, 2: 1}

    lone = spark.createDataFrame([(5, 9)], "src long, dst long")
    row = triangle_stats(lone).collect()[0]
    assert row.n_wedges == 0 and row.clustering is None
