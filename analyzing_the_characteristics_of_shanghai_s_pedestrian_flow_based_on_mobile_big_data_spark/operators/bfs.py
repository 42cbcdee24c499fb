"""Hop-distance queries over the OD region graph — Spark prep and
DuckDB twins.

BFS, harmonic and closeness centrality share one relax rule:
dist(source)=0, and each round sets dist(v) = min(dist(v), min over
in-edges (u,v) of dist(u)+1). The rounds run on the driver
(``graph_bounded.bfs_hops_fold`` / ``harmonic_fold`` /
``closeness_fold``) because the region graph has at most
(N_REGIONS+1)² edges by construction. With a FIXED round budget each
twin here is a static chain of unrolled CTEs under the value-hash
gate. ``max_hops`` bounds the radius explicitly: Pregel stops on an
empty frontier, these queries stop at the budget, and the budget is
part of the query's contract.

The OD region graph is near-complete (every hop distance would be
0/1 — vacuous), so the paired queries sparsify deterministically
first with :func:`topk_out_edges`, the data-scale Spark step: keep
each node's top-``k`` strongest out-edges (ties broken on dest id) —
the standard k-NN-graph construction, a windowed top-k per group that
mirrors 1:1 into SQL.

No counterpart in the reference — engine breadth (SURVEY.md §2
extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk_out_edges(edges: DataFrame, k: int = 3) -> DataFrame:
    """(src, dst, w) → each node's ``k`` strongest out-edges
    (w desc, dst asc; self-loops dropped) — deterministic k-NN-graph
    sparsification."""
    w_rank = Window.partitionBy("src").orderBy(
        F.col("w").desc(), F.col("dst").asc()
    )
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= k)
        .select("src", "dst")
    )


def bfs_oracle_sql(graph_cte: str, source: int, max_hops: int = 6) -> str:
    """Unrolled DuckDB twin over the ``graph(src, dst)`` relation
    defined by ``graph_cte`` — MATERIALIZED per round (the PageRank
    CTE-inlining lesson)."""
    parts = [
        graph_cte,
        f"""
        d0 AS MATERIALIZED (
          SELECT CAST(n AS INTEGER) AS node, 0 AS hops FROM (
            SELECT DISTINCT src AS n FROM graph
            UNION SELECT dst FROM graph
          ) WHERE n = {source}
        )""",
    ]
    for r in range(1, max_hops + 1):
        parts.append(
            f"""
        d{r} AS MATERIALIZED (
          SELECT node, min(hops) AS hops FROM (
            SELECT node, hops FROM d{r - 1}
            UNION ALL
            SELECT e.dst AS node, d.hops + 1 AS hops
            FROM graph e JOIN d{r - 1} d ON e.src = d.node
          ) GROUP BY node
        )"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT CAST(node AS INTEGER) AS node,
               CAST(hops AS INTEGER) AS hops
        FROM d{max_hops}
        """
    )


# Harmonic centrality sums exact integer weights 12/d for hop distances
# 1..4 (12 = lcm(1..4)): Σ (12/d) / 12 is a BIGINT numerator and ONE
# IEEE division, instead of an association-order-dependent sum of 1/d
# doubles.
_HARMONIC_MAX_HOPS = 4


def _multi_source_sql(graph_cte: str, max_hops: int) -> str:
    """The all-pairs relax chain over ``graph(src, dst)``: every node
    is its own 0-hop seed, and ``m{max_hops}`` holds (source, node,
    hops) for every pair within the budget, self rows at 0."""
    parts = [
        graph_cte,
        """
        m0 AS MATERIALIZED (
          SELECT CAST(n AS INTEGER) AS source, CAST(n AS INTEGER) AS node,
                 0 AS hops
          FROM (
            SELECT DISTINCT src AS n FROM graph
            UNION SELECT dst FROM graph
          )
        )""",
    ]
    for r in range(1, max_hops + 1):
        parts.append(
            f"""
        m{r} AS MATERIALIZED (
          SELECT source, node, min(hops) AS hops FROM (
            SELECT source, node, hops FROM m{r - 1}
            UNION ALL
            SELECT d.source, CAST(e.dst AS INTEGER) AS node,
                   d.hops + 1 AS hops
            FROM graph e JOIN m{r - 1} d ON e.src = d.node
          ) GROUP BY source, node
        )"""
        )
    return "WITH " + ",".join(parts)


def harmonic_oracle_sql(
    graph_cte: str, max_hops: int = _HARMONIC_MAX_HOPS
) -> str:
    """DuckDB twin of ``graph_bounded.harmonic_fold``: H(v) =
    Σ_{u≠v reached} 1/d(u→v) within the hop budget, as the exact
    integer-weight aggregation. Returns (node, n_reached, harmonic)."""
    assert max_hops == _HARMONIC_MAX_HOPS
    return _multi_source_sql(graph_cte, max_hops) + f"""
        SELECT CAST(node AS INTEGER) AS node,
               count(*) AS n_reached,
               CAST(sum(CASE hops WHEN 1 THEN 12 WHEN 2 THEN 6
                        WHEN 3 THEN 4 ELSE 3 END) AS DOUBLE) / 12.0
                 AS harmonic
        FROM m{max_hops}
        WHERE hops > 0
        GROUP BY node
        """


def closeness_oracle_sql(
    graph_cte: str, max_hops: int = _HARMONIC_MAX_HOPS
) -> str:
    """DuckDB twin of ``graph_bounded.closeness_fold``: C(v) =
    n_reached / Σ d(u→v) over pairs reached within ``max_hops``, with
    exact BIGINT count and distance sum and one final division.
    Returns (node, n_reached, total_hops, closeness)."""
    return _multi_source_sql(graph_cte, max_hops) + f"""
        SELECT CAST(node AS INTEGER) AS node,
               count(*) AS n_reached,
               CAST(sum(hops) AS BIGINT) AS total_hops,
               CAST(count(*) AS DOUBLE) / CAST(sum(hops) AS DOUBLE)
                 AS closeness
        FROM m{max_hops}
        WHERE hops > 0
        GROUP BY node
        """
