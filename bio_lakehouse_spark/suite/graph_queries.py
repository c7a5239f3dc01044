"""Graph-analytics queries over the supplier co-order trade graph.

Extends the iterative-graph family (connected components for dedup
clusters, PageRank) with the two standard NON-iterative graph
measures — exact triangle counting / global clustering coefficient
(degree-ordered orientation, Suri–Vassilvitskii WWW'11) and
neighbor-set Jaccard similarity (structural equivalence / link
prediction). Both run on a derived k-NN graph: each supplier keeps
its K=10 strongest co-order partners (ties broken on partner id).
k-NN sparsification is the standard scale move for density-prone
similarity graphs: edge count is ≤ K·|nodes| BY CONSTRUCTION, so
wedge/common-neighbor work is O(|nodes|·K²) no matter how dense the
raw co-occurrence gets — a mean-based threshold measured 109 k edges
on 1 000 suppliers at sf0.1 (≈49 M wedge candidates, 12 s); the k-NN
graph caps it at ≤10 k edges at every SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.graph import (
    neighbor_jaccard_topk,
    triangle_stats,
)
from bio_lakehouse_spark.suite.registry import load, register
from bio_lakehouse_spark.suite.relational import (
    _symmetrized,
    _trade_graph,
    _trade_graph_sql,
)

R6 = lambda c: F.round(c, 6)  # noqa: E731

# Shared oracle CTE: distinct (order, supplier), co-order pair
# counts, then the symmetric k-NN edge set (each node nominates its
# K strongest partners; an edge exists if EITHER endpoint nominates).
_K = 10

_EDGES_CTE = f"""
WITH lo AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
), cow AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS c
  FROM lo a JOIN lo b ON a.o = b.o AND a.s < b.s
  GROUP BY 1, 2
), directed AS (
  SELECT s1 AS u, s2 AS v, c FROM cow
  UNION ALL SELECT s2, s1, c FROM cow
), picked AS (
  SELECT u, v FROM (
    SELECT u, v,
           ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, v ASC) AS rn
    FROM directed
  ) WHERE rn <= {_K}
), e AS (
  SELECT DISTINCT LEAST(u, v) AS s1, GREATEST(u, v) AS s2 FROM picked
)
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric K-nearest-partner supplier graph.

    The per-order self-join fans out as (lines-per-order choose 2) —
    bounded by order size — and collapses to per-pair counts with
    map-side combine. Each node then keeps its K strongest partners
    (one rank window over the pair-count frame, partitioned by node),
    and the union of nominations is canonicalized. Edge count is
    ≤ K·|nodes| at any co-occurrence density — the bound every
    downstream quadratic-in-degree graph op inherits (the mean-based
    threshold this replaces went 109 k edges dense at sf0.1).
    """
    lo = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a, b = lo.alias("a"), lo.alias("b")
    cow = (
        a.join(b, on=F.col("a.o") == F.col("b.o"))
        .filter(F.col("a.s") < F.col("b.s"))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    directed = cow.select(
        F.col("s1").alias("u"), F.col("s2").alias("v"), "c"
    ).unionAll(cow.select(F.col("s2"), F.col("s1"), "c"))
    wk = Window.partitionBy("u").orderBy(F.col("c").desc(), F.col("v").asc())
    picked = (
        directed.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _K)
        .select("u", "v")
    )
    return picked.select(
        F.least("u", "v").alias("s1"), F.greatest("u", "v").alias("s2")
    ).distinct()


@register(
    "graph_triangle_stats",
    survey=("J7", "A11"),
    oracle=_EDGES_CTE
    + """, deg AS (
  SELECT n, COUNT(*) AS d FROM (
    SELECT s1 AS n FROM e UNION ALL SELECT s2 FROM e
  ) GROUP BY n
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.s1 = e1.s1 AND e2.s2 > e1.s2
  JOIN e e3 ON e3.s1 = e1.s2 AND e3.s2 = e2.s2
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) FROM deg)
         AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       ROUND(3.0 * (SELECT n_triangles FROM tri)
             / (SELECT SUM(d * (d - 1)) // 2 FROM deg), 6) AS clustering
""",
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangles + global clustering of the trade graph via
    degree-ordered wedge enumeration — out-neighbor lists are O(√m)
    under the orientation, so the wedge self-join survives power-law
    hubs (operators/graph.triangle_stats)."""
    out = triangle_stats(_trade_edges(spark, sf_dir), "s1", "s2")
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        R6(F.col("clustering")).alias("clustering"),
    )


@register(
    "graph_neighbor_jaccard",
    survey=("J6", "O4"),
    oracle=_EDGES_CTE
    + """, adj AS (
  SELECT s1 AS node, s2 AS nb FROM e
  UNION ALL SELECT s2, s1 FROM e
), deg AS (
  SELECT node, COUNT(*) AS d FROM adj GROUP BY node
), common AS (
  SELECT l1.node AS s1, l2.node AS s2, COUNT(*) AS common
  FROM adj l1 JOIN adj l2 ON l1.nb = l2.nb AND l1.node < l2.node
  GROUP BY 1, 2
)
SELECT c.s1, c.s2, c.common,
       ROUND(c.common * 1.0 / (d1.d + d2.d - c.common), 6) AS jaccard
FROM common c
JOIN deg d1 ON d1.node = c.s1
JOIN deg d2 ON d2.node = c.s2
ORDER BY c.common * 1.0 / (d1.d + d2.d - c.common) DESC, c.s1, c.s2
LIMIT 20
""",
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 supplier pairs by neighbor-set Jaccard: one adjacency
    self-join on the shared neighbor (deg² fan-out per center,
    max_degree-cappable), broadcast degree join, deterministic
    TakeOrderedAndProject (operators/graph.neighbor_jaccard_topk)."""
    out = neighbor_jaccard_topk(_trade_edges(spark, sf_dir), "s1", "s2", k=20)
    return out.select(
        "s1", "s2", "common", R6(F.col("jaccard")).alias("jaccard")
    )


def _bfs_oracle(max_hops: int = 4) -> str:
    """Unrolled multi-source BFS over the symmetrized customer-
    supplier trade graph (landmarks: suppliers 0-4) — fixed hop
    count makes frontier expansion SQL-expressible, same pattern as
    the unrolled PageRank/Lloyd oracles."""
    parts = [_trade_graph_sql() + """, d0 AS (
  SELECT DISTINCT s_suppkey * 2 + 1 AS node, 0 AS dist
  FROM supplier WHERE s_suppkey < 5
)"""]
    for h in range(1, max_hops + 1):
        parts.append(f""", f{h} AS (
  SELECT DISTINCT e.dst AS node FROM e
  JOIN d{h-1} f ON e.src = f.node AND f.dist = {h-1}
  WHERE e.dst NOT IN (SELECT node FROM d{h-1})
), d{h} AS (
  SELECT node, dist FROM d{h-1}
  UNION ALL SELECT node, {h} FROM f{h}
)""")
    parts.append(f"""
SELECT node, dist FROM d{max_hops}""")
    return "".join(parts)


@register(
    "bfs_distance_landmark",
    survey=("J4", "SET1"),
    oracle=_bfs_oracle(4),
)
def bfs_distance_landmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances from a 5-supplier landmark set
    over the symmetrized customer-supplier trade graph (≤ 4 hops) —
    the graph family's reachability/distance member next to CC,
    PageRank, label propagation and k-core. Per hop ONE keyed
    frontier⋈edges join + distinct + anti-join against the settled
    set, lineage checkpoint-truncated (operators.graph.
    bfs_distances); work per hop is bounded by the frontier's
    out-neighborhood, not the graph."""
    from bio_lakehouse_spark.operators.graph import bfs_distances

    e = _symmetrized(_trade_graph(spark, sf_dir))
    landmarks = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") < 5)
        .select((F.col("s_suppkey") * 2 + 1).alias("v"))
        .distinct()
    )
    return bfs_distances(e, landmarks, max_hops=4)
