"""K-means over embedding columns — Lloyd's algorithm, Spark-first.

The clustering operator a training-data pipeline uses for corpus
stratification, diversity sampling, and IVF codebook training (the
16-way codebook in operators/similarity.py is k-means' one-shot
cousin; this is the iterated real thing).

Physical design, per iteration:

1. **Assignment is a map-only stage.** Centroids are k·dim doubles —
   driver-collected once per iteration (a bounded dimension fetch,
   same budget class as the IVF codebook collect in
   similarity.py:338-343) and embedded as LITERAL arrays, so the
   distance argmin runs inside whole-stage codegen with no join, no
   broadcast exchange, no shuffle. At 100 TB this stage streams the
   corpus exactly once.
2. **The update is one k·dim-cell aggregate.** posexplode(vec) →
   groupBy (cluster, dim) with a DECIMAL sum (association-order
   independent ⇒ partitioning-independent) — map-side combinable,
   shuffle payload k·dim rows per partition.
3. The corpus is localCheckpointed (lazily) once up front: every
   iteration re-scans it, and without truncation iteration i would
   re-derive the upstream pipeline i times (pagerank.py:88-94).

Determinism across engines (the pagerank playbook):
- squared-distance = sequential left fold over zip(vec, centroid) —
  bitwise-identical to DuckDB's ``list_reduce`` seedless fold (the
  0.0 seed is exact: 0.0 + x == x for squares ≥ 0);
- argmin tie-breaks on the smallest cluster id via lexicographic
  (dist, cluster) struct min;
- centroid mean = floor((DECIMAL-sum → double / count)·10^s + 0.5)
  / 10^s per dimension, every round. NOT round(): library rounding
  interprets the double through its decimal representation, and when
  the mean lands within an ulp of a half boundary Spark and DuckDB
  can disagree by one last-digit step (measured: 1 of 512 coords at
  sf0.1). The floor form is multiply+add+floor+divide — pure IEEE
  ops on identical inputs, so both engines produce the identical
  binary64 and round r+1's distances match bit-for-bit;
- empty clusters keep their previous centroid (both engines).

Initialization: the vectors of the k smallest ``vec_id``s — fully
deterministic (k-means++ trades determinism for quality; seed it with
:mod:`..functions.sampling` hashes if needed).

No counterpart in the reference — engine breadth for the curation
stack (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(28,12)"

#: Centroid coordinates are floor-rounded at this many decimals each
#: round — by kmeans_fit and by its DuckDB twin alike.
ROUND_SCALE = 9


def _sq_dist_sql(vec_col: str, cent: list[float]) -> str:
    """Squared euclidean distance to a literal centroid — sequential
    left fold matching the oracle's list_reduce order, rendered as ONE
    SQL string: assembling it from Column objects costs several py4j
    round trips per HOF lambda × k centroids × iterations (the
    _centroid_sims lesson, similarity.py — measured ~2.3 s of driver
    time per query at k=16); literal doubles repr-round-trip exactly,
    so the arithmetic is bit-identical to the Column form."""
    arr = "array(" + ", ".join(f"{float(c)!r}D" for c in cent) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, "
        "(x, c) -> (x - c) * (x - c)), 0.0D, (acc, t) -> acc + t)"
    )


def assign_clusters(
    emb: DataFrame, cents: dict[int, list[float]], vec_col: str = "vec"
) -> DataFrame:
    """Add a ``cluster`` column: argmin over literal centroids, ties to
    the smallest cluster id (lexicographic struct min) — map-only."""
    if not cents:  # empty corpus → no seeds; typed all-NULL column
        return emb.withColumn("cluster", F.lit(None).cast("int"))
    pairs = ", ".join(
        f"named_struct('d', {_sq_dist_sql(vec_col, cents[c])}, 'c', {c})"
        for c in sorted(cents)
    )
    return emb.withColumn(
        "cluster", F.expr(f"int(array_min(array({pairs})).c)")
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 3,
    vec_col: str = "vec",
    id_col: str = "vec_id",
) -> tuple[dict[int, list[float]], DataFrame]:
    """Run ``iterations`` Lloyd rounds on ``emb`` (id_col, vec_col:
    array<double>). Returns (final centroids {cluster: coords}, the
    corpus with its final ``cluster`` assignment)."""
    emb = emb.localCheckpoint(eager=False)
    # seed from the k SMALLEST OBSERVED ids, not `id < k`: a sparse or
    # offset id domain (plausible after a testdata regeneration) would
    # silently fit fewer than k clusters under the literal filter —
    # and the oracle, making the same assumption, would not catch the
    # shrinkage. Cluster labels are the seed ids themselves (oracle
    # mirrors with ORDER BY vec_id LIMIT k).
    seeds = (
        emb.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col).cast("int").alias("c"), F.col(vec_col))
        .collect()
    )
    cents = {int(r.c): [float(x) for x in r[vec_col]] for r in seeds}
    for _ in range(iterations):
        assigned = assign_clusters(emb, cents, vec_col)
        mean_rows = (
            assigned.select(
                "cluster", F.posexplode(F.col(vec_col)).alias("dim0", "x")
            )
            .groupBy("cluster", "dim0")
            .agg(
                (
                    F.floor(
                        F.sum(F.col("x").cast(_DEC)).cast("double")
                        / F.count("*").cast("double")
                        * F.lit(float(10**ROUND_SCALE))
                        + F.lit(0.5)
                    )
                    / F.lit(float(10**ROUND_SCALE))
                ).alias("coord")
            )
            .collect()  # bounded: k·dim cells
        )
        new: dict[int, list[float]] = {}
        for r in mean_rows:
            new.setdefault(int(r.cluster), [0.0] * len(next(iter(cents.values()))))[
                int(r.dim0)
            ] = float(r.coord)
        # empty clusters keep their previous centroid
        cents = {c: new.get(c, cents[c]) for c in cents}
    return cents, assign_clusters(emb, cents, vec_col)


def kmeans_oracle_ctes(
    emb_cte: str,
    k: int = 8,
    iterations: int = 3,
) -> str:
    """CTE block (without the WITH keyword) of the unrolled Lloyd
    rounds, ending at ``cent{iterations}(cluster, c)`` — exposed
    separately so composing oracles (kmeans_embeddings' final select,
    ivf_topk_kmeans' probe stage) build on the structure instead of
    re-parsing rendered SQL (the minhash-oracle composition lesson).
    ``emb_cte`` must define ``e(vec_id, emb DOUBLE[])``. Shared tables
    are MATERIALIZED (the PageRank lesson: DuckDB inlines
    single-reference CTE chains and would re-evaluate each round once
    per downstream reference)."""
    dist = (
        "list_reduce(list_transform(generate_series(1, len(a.emb)), "
        "i -> (a.emb[i] - c.c[i]) * (a.emb[i] - c.c[i])), (p, q) -> p + q)"
    )
    parts = [
        emb_cte,
        # DuckDB's table-function generate_series cannot take lateral
        # column arguments (len(emb)), so dimension indices come from a
        # materialized CTE built with the scalar list form + unnest
        f"""
        dims AS MATERIALIZED (
          SELECT unnest(generate_series(
            1, (SELECT max(len(emb)) FROM e))) AS i
        ),
        cent0 AS MATERIALIZED (
          SELECT CAST(vec_id AS INTEGER) AS cluster, emb AS c
          FROM e ORDER BY vec_id ASC LIMIT {k}
        )""",
    ]
    for r in range(1, iterations + 1):
        parts.append(
            f"""
        asg{r} AS MATERIALIZED (
          SELECT a.vec_id, a.emb, cluster FROM (
            SELECT a.vec_id, a.emb, c.cluster,
                   row_number() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY {dist} ASC, c.cluster ASC) AS rn
            FROM e a CROSS JOIN cent{r - 1} c
          ) a WHERE rn = 1
        ),
        mean{r} AS MATERIALIZED (
          SELECT cluster, g.i AS dim_idx,
                 floor(CAST(sum(CAST(emb[g.i] AS DECIMAL(28,12))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE)
                       * {10**ROUND_SCALE}.0 + 0.5)
                 / {10**ROUND_SCALE}.0 AS coord
          FROM asg{r} CROSS JOIN dims g
          GROUP BY cluster, g.i
        ),
        cent{r} AS MATERIALIZED (
          SELECT cluster, list(coord ORDER BY dim_idx) AS c FROM (
            SELECT p.cluster, g.i AS dim_idx,
                   coalesce(m.coord, p.c[g.i]) AS coord
            FROM cent{r - 1} p
            CROSS JOIN dims g
            LEFT JOIN mean{r} m
              ON m.cluster = p.cluster AND m.dim_idx = g.i
          ) GROUP BY cluster
        )"""
        )
    return ",".join(parts)


def kmeans_oracle_sql(
    emb_cte: str,
    k: int = 8,
    iterations: int = 3,
) -> str:
    """Full DuckDB twin of :func:`kmeans_fit`: the unrolled CTE chain
    plus the final-centroid/size select."""
    dist = (
        "list_reduce(list_transform(generate_series(1, len(a.emb)), "
        "i -> (a.emb[i] - c.c[i]) * (a.emb[i] - c.c[i])), (p, q) -> p + q)"
    )
    n = iterations
    return (
        "WITH "
        + kmeans_oracle_ctes(emb_cte, k, iterations)
        + f"""
        , asg_final AS MATERIALIZED (
          SELECT a.vec_id, cluster FROM (
            SELECT a.vec_id, c.cluster,
                   row_number() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY {dist} ASC, c.cluster ASC) AS rn
            FROM e a CROSS JOIN cent{n} c
          ) a WHERE rn = 1
        )
        SELECT c.cluster, s.n_vecs,
               CAST(g.i AS INTEGER) AS dim_idx, c.c[g.i] AS coord
        FROM cent{n} c
        JOIN (SELECT cluster, count(*) AS n_vecs
              FROM asg_final GROUP BY 1) s
          USING (cluster)
        CROSS JOIN dims g
        """
    )
