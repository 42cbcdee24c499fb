"""Top principal direction by power iteration — Spark-first PCA.

The dimensionality-reduction diagnostic an embedding pipeline runs
(dominant variance direction, whitening sanity, drift detection):
power-iterate v ← Gram·v where Gram = Σᵢ xᵢ xᵢᵀ, WITHOUT materializing
the d×d Gram matrix — each round is ONE corpus aggregate of
dᵢ = Σᵢ xᵢ[j]·(xᵢ·v), i.e. a matvec fused into a single
posexplode→groupBy pass (the kmeans.py physical pattern: the iterate
vector is d literals in-plan; only d doubles reach the driver per
round).

Cross-engine exactness (the kmeans/pagerank playbook):
- the dot xᵢ·v is the 0.0-seeded sequential left fold
  (functions/vectors.py order), identical to DuckDB's list_reduce;
- per-dimension sums go through DECIMAL(38,12) — association-order
  independent, so any partitioning yields the same binary64;
- normalization divides by the MAX-ABS coordinate (ties to the
  smallest dimension index) instead of the L2 norm: one exact IEEE
  division per coordinate, no sqrt chain, and max-abs-normalized
  power iteration converges to the same dominant direction (scaling
  never changes direction);
- every coordinate is floor-rounded to 9 dp per round, so both
  engines carry the identical vector into the next round.

Centering is intentionally omitted (the Gram/correlation direction,
not the covariance direction) — document the contract rather than
hide a mean-subtraction pass; compose with embedding_minmax_norm or a
mean-shift upstream when the covariance direction is wanted.

No counterpart in the reference — engine breadth for the embedding
stack (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,12)"

#: The direction is floor-rounded at this many decimals each round —
#: by power_iteration_top_pc and by its DuckDB twin alike.
ROUND_SCALE = 9


def _floor_round(x: float, scale: float) -> float:
    import math

    return math.floor(x * scale + 0.5) / scale


def power_iteration_top_pc(
    emb: DataFrame,
    dim: int,
    iterations: int = 3,
    vec_col: str = "vec",
) -> list[float]:
    """Return the (max-abs-normalized, 9-dp-rounded) dominant Gram
    direction after ``iterations`` rounds, v⁰ = e₁."""
    emb = emb.localCheckpoint(eager=False)
    v = [1.0] + [0.0] * (dim - 1)
    scale = float(10**ROUND_SCALE)
    for _ in range(iterations):
        arr = "array(" + ", ".join(f"{float(c)!r}D" for c in v) + ")"
        dot = (
            f"aggregate(zip_with({vec_col}, {arr}, (x, c) -> x * c), "
            "0.0D, (acc, t) -> acc + t)"
        )
        rows = (
            emb.withColumn("__dot", F.expr(dot))
            .select(
                F.posexplode(F.col(vec_col)).alias("dim0", "x"),
                "__dot",
            )
            .groupBy("dim0")
            .agg(
                # cast back to double IN-ENGINE so the DECIMAL→double
                # rounding happens on the same side as the oracle's
                F.sum(
                    (F.col("x") * F.col("__dot")).cast(_DEC)
                ).cast("double").alias("s")
            )
            .collect()  # bounded: dim cells
        )
        if not rows:
            # empty corpus ⇒ no direction at all (the DuckDB twin's
            # unrolled CTEs also collapse to zero rows) — distinct from
            # a nonempty all-zero corpus, which yields the zero vector
            return []
        w = [0.0] * dim
        for r in rows:
            w[int(r.dim0)] = float(r.s)
        # max-abs pivot, ties to the smallest index — a total order
        pivot_idx = max(range(dim), key=lambda j: (abs(w[j]), -j))
        pivot = w[pivot_idx]
        if pivot == 0.0:
            return [0.0] * dim  # zero corpus ⇒ zero direction
        v = [_floor_round(x / abs(pivot), scale) for x in w]
    return v


def pca_oracle_sql(
    emb_cte: str, dim: int, iterations: int = 3
) -> str:
    """Unrolled DuckDB twin: ``emb_cte`` must define ``e(vec_id, emb
    DOUBLE[])``. Each round is one matvec aggregate + a max-abs
    normalization CTE; MATERIALIZED (the PageRank CTE-inlining
    lesson). Output: (dim_idx, coord) of the final vector."""
    parts = [
        emb_cte,
        f"""
        dims AS MATERIALIZED (
          SELECT unnest(generate_series(1, {dim})) AS j
        ),
        v0 AS MATERIALIZED (
          SELECT j, CASE WHEN j = 1 THEN 1.0 ELSE 0.0 END AS c
          FROM dims
        )""",
    ]
    for r in range(1, iterations + 1):
        parts.append(
            f"""
        vl{r - 1} AS MATERIALIZED (
          SELECT list(c ORDER BY j) AS vl FROM v{r - 1}
        ),
        dot{r} AS MATERIALIZED (
          SELECT e.vec_id, e.emb,
                 list_reduce(
                   list_transform(generate_series(1, {dim}),
                     i -> e.emb[i] * vv.vl[i]),
                   (p, q) -> p + q) AS d
          FROM e CROSS JOIN vl{r - 1} vv
        ),
        w{r} AS MATERIALIZED (
          SELECT g.j,
                 CAST(sum(CAST(e.emb[g.j] * e.d
                               AS DECIMAL(38,12))) AS DOUBLE) AS s
          FROM dot{r} e CROSS JOIN dims g
          GROUP BY g.j
        ),
        p{r} AS MATERIALIZED (
          SELECT abs(s) AS a FROM w{r}
          ORDER BY abs(s) DESC, j ASC LIMIT 1
        ),
        v{r} AS MATERIALIZED (
          SELECT w.j,
                 floor(w.s / p.a * {10**ROUND_SCALE}.0 + 0.5)
                 / {10**ROUND_SCALE}.0 AS c
          FROM w{r} w CROSS JOIN p{r} p
        )"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT CAST(j - 1 AS INTEGER) AS dim_idx, c AS coord
        FROM v{iterations}
        """
    )
