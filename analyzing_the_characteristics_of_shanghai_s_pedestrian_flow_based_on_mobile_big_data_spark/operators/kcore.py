"""k-core decomposition — fixed-round peeling.

The k-core is the maximal induced subgraph where every node keeps
degree ≥ k. It is computed by PEELING: drop all nodes with current
degree < k at once, recompute degrees on the induced subgraph,
repeat. The budget is part of the query contract, and peeling
converges when a round removes nobody (monotone: the alive set only
shrinks, so ``rounds ≥ longest peel chain`` gives the exact k-core —
6 covers the paired query's graph at k=4, asserted converged in
tests).

The rounds run on the driver (``graph_bounded.k_core_fold``) because
the region graph has at most (N_REGIONS+1)² edges by construction.
This module keeps the data-scale Spark step (:func:`symmetrize`) and
the unrolled DuckDB twin (:func:`k_core_oracle_sql`) the fold is
checked against.

No counterpart in the reference — engine breadth (SURVEY.md §2
extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame) -> DataFrame:
    """Directed (src, dst) → undirected simple edge set: both
    orientations, self-loops dropped, deduplicated."""
    fwd = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    rev = fwd.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return fwd.unionByName(rev).distinct()


def k_core_oracle_sql(graph_cte: str, k: int, rounds: int = 6) -> str:
    """Unrolled DuckDB twin over the undirected ``graph(src, dst)``
    relation defined by ``graph_cte`` (both orientations present) —
    MATERIALIZED per round (the PageRank CTE-inlining lesson)."""
    parts = [graph_cte, "e0 AS MATERIALIZED (SELECT src, dst FROM graph)"]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
        a{r} AS MATERIALIZED (
          SELECT src AS node FROM e{r - 1}
          GROUP BY src HAVING count(*) >= {k}
        ),
        e{r} AS MATERIALIZED (
          SELECT e.src, e.dst FROM e{r - 1} e
          JOIN a{r} x ON e.src = x.node
          JOIN a{r} y ON e.dst = y.node
        )"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM e{rounds}
        GROUP BY src HAVING count(*) >= {k}
        """
    )
