"""Community detection — synchronous weighted label propagation (LPA).

Mesoscale structure of the OD region graph: which groups of regions
exchange more flow internally than externally. LPA is the standard
scalable community algorithm — no objective function to optimize,
just local label agreement.

Update rule, per round, for every node v:

    label(v) ← the label ℓ maximizing  Σ w(u,v) over neighbors u with
               label(u) = ℓ;   ties → smallest ℓ;   isolated nodes
               keep their label.

Determinism: integer edge weights and a total (score desc, label asc)
order. Synchronous update (all nodes flip together from the previous
round's labels) — the asynchronous variant is order-dependent and
cannot be oracle-checked.

The rounds run on the driver (``graph_bounded.label_propagation_fold``)
because the region graph has at most (N_REGIONS+1)² edges by
construction. This module keeps the data-scale Spark step
(:func:`undirected_weighted_edges`) and the unrolled DuckDB twin
(:func:`lpa_oracle_sql`) the fold is checked against.

No counterpart in the reference (no graph code there) — engine
breadth, SURVEY.md §2 extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def undirected_weighted_edges(edges: DataFrame) -> DataFrame:
    """(src, dst, w) directed multigraph → undirected simple weighted
    edges (u < v, w = Σ both directions), self-loops dropped."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.col("w"),
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )


def lpa_oracle_sql(graph_cte: str, rounds: int = 4) -> str:
    """DuckDB twin: the same synchronous updates as unrolled CTEs over
    the ``graph(src, dst, w)`` relation defined by ``graph_cte`` —
    MATERIALIZED like the PageRank twin so DuckDB computes each round
    once, not once per reference."""
    parts = [
        graph_cte,
        """
        und AS MATERIALIZED (
          SELECT least(src, dst) AS u, greatest(src, dst) AS v,
                 sum(w) AS w
          FROM graph WHERE src <> dst GROUP BY 1, 2
        ),
        nbr AS MATERIALIZED (
          SELECT u AS src, v AS dst, w FROM und
          UNION ALL
          SELECT v AS src, u AS dst, w FROM und
        ),
        lab0 AS MATERIALIZED (
          SELECT DISTINCT src AS node, src AS label FROM nbr
        )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
        lab{r} AS MATERIALIZED (
          SELECT p.node, coalesce(w.label, p.label) AS label
          FROM lab{r - 1} p
          LEFT JOIN (
            SELECT dst AS node, label FROM (
              SELECT nbr.dst, l.label, sum(nbr.w) AS score,
                     row_number() OVER (
                       PARTITION BY nbr.dst
                       ORDER BY sum(nbr.w) DESC, l.label ASC) AS rn
              FROM nbr JOIN lab{r - 1} l ON l.node = nbr.src
              GROUP BY nbr.dst, l.label
            ) WHERE rn = 1
          ) w ON w.node = p.node
        )"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT CAST(node AS INTEGER) AS node,
               CAST(label AS INTEGER) AS community
        FROM lab{rounds}
        """
    )
