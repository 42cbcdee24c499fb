"""Embedding/array math as native Catalyst expressions.

Dot products and norms fold sequentially left-to-right
(``F.aggregate``) so results are bitwise-deterministic and exactly
reproducible by an oracle that folds in the same order
(DuckDB ``list_reduce``). No UDFs: at 100 TB a python hop per pair
would dominate the similarity-search cost.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a,b) with double math in a fixed evaluation order."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def as_double_array(a: Column) -> Column:
    """Cast array<float> (testdata embeddings) to array<double> so all
    downstream math is float64 — matching the oracle's DOUBLE[]."""
    return a.cast("array<double>")


def int8_quantize(v: Column) -> Column:
    """Symmetric per-vector int8 quantization: q_i = round(x_i / s),
    s = max|x|/127 (zero-point 0). The 4× representation that buys
    memory bandwidth at 100 TB ANN scale — and, because the per-vector
    scales CANCEL in cosine, downstream similarity needs only the
    integer codes.

    Deterministic across engines: the abs-max fold, one IEEE division
    (s), one IEEE division per component, and half-away-from-zero
    rounding to an integer — no association-order-sensitive float sum
    anywhere. Zero vectors quantize to all-zero codes."""
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = amax / F.lit(127.0)
    return F.when(
        amax == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127).cast("long"),
                F.least(
                    F.lit(127).cast("long"),
                    F.round(x / scale).cast("long"),
                ),
            ),
        )
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<long> code columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int8_cosine(qa: Column, qb: Column) -> Column:
    """Approximate cosine from int8 codes alone: the symmetric scales
    cancel, so cos ≈ dot(qa,qb) / (‖qa‖·‖qb‖) — exact integer dot and
    norms, one sqrt+division at the end."""
    return int_dot(qa, qb).cast("double") / (
        F.sqrt(int_dot(qa, qa).cast("double"))
        * F.sqrt(int_dot(qb, qb).cast("double"))
    )
