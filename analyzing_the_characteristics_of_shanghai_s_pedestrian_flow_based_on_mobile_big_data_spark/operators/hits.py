"""HITS hubs & authorities over the OD region graph — the DuckDB twin.

PageRank's classic sibling: authority(v) = Σ_{u→v} hub(u),
hub(u) = Σ_{u→v} authority(v), alternated from hub = 1.0. Where
PageRank scores a node's stationary visit probability, HITS separates
"pointed to by good hubs" from "points at good authorities" — on an
OD graph: regions people flow INTO (authorities — destinations) vs
regions that FEED many authorities (hubs — origins).

The rounds run on the driver (``graph_bounded.hits_fold``) over the
bounded region graph; :func:`hits_oracle_sql` is the unrolled DuckDB
twin the fold is checked against.

Cross-engine exactness: scores go through DECIMAL sums
(association-order independent), are normalized by the MAX score each
half-round (one exact IEEE division — no L2 sqrt chain; max-normalized
HITS converges to the same principal directions, scaling never changes
them), and floor-round at 9 dp so both engines carry identical doubles
into the next round.

No counterpart in the reference — engine breadth (SURVEY.md §2
extensions).
"""

from __future__ import annotations

from .graph_bounded import ROUND_SCALE


def hits_oracle_sql(graph_cte: str, iterations: int = 5) -> str:
    """Unrolled DuckDB twin over ``graph(src, dst)`` — MATERIALIZED per
    half-round (the PageRank CTE-inlining lesson)."""
    sc = f"{10**ROUND_SCALE}.0"
    parts = [
        graph_cte,
        """
        es AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM graph WHERE src <> dst
        ),
        nodes AS MATERIALIZED (
          SELECT DISTINCT n AS node FROM (
            SELECT src AS n FROM es UNION SELECT dst FROM es
          )
        ),
        h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)""",
    ]
    for r in range(1, iterations + 1):
        parts.append(
            f"""
        ar{r} AS MATERIALIZED (
          SELECT n.node,
                 coalesce(CAST(s.v AS DOUBLE), 0.0) AS authority
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   sum(CAST(h.hub AS DECIMAL(38,12))) AS v
            FROM es e JOIN h{r - 1} h ON h.node = e.src
            GROUP BY e.dst
          ) s ON s.node = n.node
        ),
        a{r} AS MATERIALIZED (
          SELECT node,
                 floor(authority / (SELECT max(authority) FROM ar{r})
                       * {sc} + 0.5) / {sc} AS authority
          FROM ar{r}
        ),
        hr{r} AS MATERIALIZED (
          SELECT n.node, coalesce(CAST(s.v AS DOUBLE), 0.0) AS hub
          FROM nodes n LEFT JOIN (
            SELECT e.src AS node,
                   sum(CAST(a.authority AS DECIMAL(38,12))) AS v
            FROM es e JOIN a{r} a ON a.node = e.dst
            GROUP BY e.src
          ) s ON s.node = n.node
        ),
        h{r} AS MATERIALIZED (
          SELECT node,
                 floor(hub / (SELECT max(hub) FROM hr{r})
                       * {sc} + 0.5) / {sc} AS hub
          FROM hr{r}
        )"""
        )
    n = iterations
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT CAST(n.node AS INTEGER) AS node, h.hub, a.authority
        FROM nodes n
        JOIN h{n} h ON h.node = n.node
        JOIN a{n} a ON a.node = n.node
        """
    )
