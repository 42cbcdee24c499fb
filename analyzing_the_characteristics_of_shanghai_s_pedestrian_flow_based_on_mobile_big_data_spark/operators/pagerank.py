"""PageRank over the OD region graph — Spark prep and the DuckDB twin.

The power iteration itself runs on the driver
(``graph_bounded.pagerank_fold``): the region graph has at most
(N_REGIONS+1)² edges by construction, so ten rounds over it are
metadata work. This module keeps the two pieces around that fold:

- :func:`normalized_edges` — the data-scale Spark step that turns
  (src, dst, cnt) multigraph counts into per-src weights;
- :func:`pagerank_oracle_sql` — the unrolled-CTE DuckDB twin the fold
  is checked against.

Rank rule, ``s`` = ``graph_bounded.ROUND_SCALE`` (9), ``d`` = damping:

    rank⁰(v) = floor((1/N)·10ˢ + ½)/10ˢ;
    rankⁱ⁺¹(v) = floor(((1-d)/N + d·Σ_{(u,v)∈E} w(u,v)·rankⁱ(u))·10ˢ + ½)/10ˢ.

Dangling nodes (no out-edges) get a self-loop of weight 1 — the
standard sink fix — so total rank mass is conserved. The iteration
count is fixed (the power method converges geometrically at
rate=damping), so the twin is a static CTE chain.

Cross-engine determinism: the contribution arithmetic never multiplies
raw doubles — weights are rounded to 12 decimals and ranks to
``s`` decimals, so casting each to DECIMAL(18,12) recovers
the *identical* decimal value in DuckDB and in the fold (a double
holding a ≤12-digit decimal converts exactly under a shortest-repr
cast and under DuckDB's nearest-decimal cast; an arbitrary double does
NOT — the engines disagree in the 17th digit). The decimal×decimal
product and its per-dst sum are then exact and association-order
independent; one correctly-rounded decimal→double cast, an IEEE
teleport division, and a 9-dp round re-synchronize representations
every iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_bounded import ROUND_SCALE


def normalized_edges(
    raw: DataFrame,
    src: str = "src",
    dst: str = "dst",
    cnt: str = "cnt",
) -> DataFrame:
    """(src, dst, cnt) multigraph counts → (src, dst, w) with per-src
    weights summing to ~1. Integer sums (exact), one IEEE double
    division, then a 12-dp round so the weight is a decimal-exact
    double (see module docstring)."""
    by_edge = raw.groupBy(src, dst).agg(F.sum(cnt).alias("__n"))
    totals = by_edge.groupBy(src).agg(F.sum("__n").alias("__tot"))
    return (
        by_edge.join(totals, src)
        .select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            # floor form, not F.round: library double-rounding can
            # diverge cross-engine within an ulp of a half boundary
            # (measured on k-means centroids at sf0.1, round 4)
            (
                F.floor(
                    F.col("__n").cast("double")
                    / F.col("__tot").cast("double")
                    * F.lit(1e12)
                    + F.lit(0.5)
                )
                / F.lit(1e12)
            ).alias("w"),
        )
    )


def pagerank_oracle_sql(
    edges_cte: str,
    iterations: int = 10,
    damping: float = 0.85,
) -> str:
    """Generate the unrolled-CTE DuckDB twin of
    ``graph_bounded.pagerank_fold``.

    ``edges_cte`` must define a CTE named ``graph`` with columns
    (src, dst, cnt). Aggregates are barred from recursive CTE members,
    so the fixed iteration count unrolls into ``iterations`` chained
    plain CTEs — same decimal-sum + per-round rounding as the fold.

    The shared tables are AS MATERIALIZED: the r-chain is a
    single-reference chain, so DuckDB's optimizer would otherwise
    inline it end-to-end and re-evaluate nodes/aug/nn (and everything
    upstream of ``graph``) once per unrolled round — measured 50 s vs
    sub-second on the OD graph."""
    parts = [
        edges_cte,
        """
        by_edge AS MATERIALIZED (
          SELECT src, dst, CAST(sum(cnt) AS BIGINT) AS n
          FROM graph GROUP BY src, dst
        ),
        w_edges AS MATERIALIZED (
          SELECT src, dst,
                 floor(CAST(n AS DOUBLE)
                       / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE)
                       * 1000000000000.0 + 0.5)
                 / 1000000000000.0 AS w
          FROM by_edge
        ),
        nodes AS MATERIALIZED (
          SELECT src AS node FROM w_edges
          UNION SELECT dst FROM w_edges
        ),
        aug AS MATERIALIZED (
          SELECT src, dst, w FROM w_edges
          UNION ALL
          SELECT node, node, 1.0
          FROM nodes WHERE node NOT IN (SELECT src FROM w_edges)
        ),
        nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        r0 AS (
          SELECT node,
                 floor(CAST(1.0 AS DOUBLE) / nn.n * {m}.0 + 0.5) / {m}.0
                   AS rank
          FROM nodes CROSS JOIN nn
        )""".format(m=10**ROUND_SCALE),
    ]
    tele = 1.0 - damping
    for i in range(iterations):
        parts.append(
            """
        c{j} AS (
          SELECT e.dst AS node,
                 sum(CAST(e.w AS DECIMAL(18,12))
                     * CAST(r.rank AS DECIMAL(18,12))) AS acc
          FROM aug e JOIN r{i} r ON e.src = r.node
          GROUP BY e.dst
        ),
        r{j} AS (
          SELECT n.node,
                 floor((CAST({t} AS DOUBLE) / nn.n
                        + CAST({d} AS DOUBLE)
                          * coalesce(CAST(c.acc AS DOUBLE), 0.0))
                       * {m}.0 + 0.5) / {m}.0 AS rank
          FROM nodes n LEFT JOIN c{j} c ON n.node = c.node
          CROSS JOIN nn
        )""".format(
                i=i, j=i + 1, d=repr(damping), t=repr(tele),
                m=10**ROUND_SCALE,
            )
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"\n        SELECT node, rank FROM r{iterations}"
    )
