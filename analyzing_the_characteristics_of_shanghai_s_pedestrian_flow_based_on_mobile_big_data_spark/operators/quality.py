"""Data-quality profiling — single-pass, long-form metrics table.

The Deequ/Great-Expectations operator class a training-data pipeline
runs before anything else: completeness (non-null fraction), exact
distinct cardinalities, and numeric min/max/mean per column, computed
in ONE aggregate pass over the table and emitted long-form
``(column, metric, value)`` so downstream checks are data, not code.

Scale shape: everything is a map-side-combinable aggregate over zero
grouping keys — one Exchange of a single combiner row per partition,
no matter how wide the profile or how big the table. Exact distinct
counts use Spark's expand-based multi-countDistinct (each adds one
pass-equivalent duplication of the input in the same stage, not a
separate scan); at 100 TB swap any non-gating ones for
``approx_count_distinct`` — the wiring is identical, which is why the
exact version is the oracle-paired default here.

The wide single-row result is unpivoted via an explode over a
struct-array literal (stack()'s typed cousin) — the unpivot runs on
one row, so it costs nothing and keeps the operator fully
declarative. Means go through DECIMAL sums
(association-order independent) per the repo's cross-engine rules.

No counterpart in the reference (its scripts assume clean input); this
is engine breadth for the curation stack (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Numeric means are floor-rounded at this many decimals — the
#: data_quality_profile oracle twin reads the same constant.
MEAN_ROUND = 6


def profile_table(
    df: DataFrame,
    completeness_cols: Sequence[str],
    distinct_cols: Sequence[str] = (),
    numeric_cols: Sequence[str] = (),
) -> DataFrame:
    """Profile ``df`` into a long-form quality-metrics table.

    Output columns: ``col_name`` (string), ``metric`` (string),
    ``value`` (double). Metrics emitted:

    - ``completeness`` — non-null fraction, for ``completeness_cols``;
    - ``n_distinct`` — exact distinct count, for ``distinct_cols``;
    - ``min`` / ``max`` / ``mean`` — for ``numeric_cols`` (mean via
      DECIMAL(28,6) sum, rounded to :data:`MEAN_ROUND` decimals);
    - ``n_rows`` — table row count, once, under col_name ``*``.

    Ratios divide two exact BIGINTs in one IEEE division, so every
    value is bit-reproducible across engines and partitionings.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in completeness_cols:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
    for c in distinct_cols:
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(F.col(c)).cast("double").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"__max_{c}"))
        aggs.append(
            F.sum(F.col(c).cast("decimal(28,6)")).alias(f"__sum_{c}")
        )
        # mean denominator: non-null count (Deequ semantics), which may
        # differ from __n when the column has nulls
        aggs.append(F.count(F.col(c)).alias(f"__cnt_{c}"))
    wide = df.agg(*aggs)

    # one row in → stack() out: (col_name, metric, value) long form
    triples: list[tuple[str, str, F.Column]] = [
        ("*", "n_rows", F.col("__n").cast("double"))
    ]
    # zero-row guard: an empty table profiles to NULL ratios, not a
    # division error (ANSI mode raises on /0)
    nz = F.when(F.col("__n") > 0, F.col("__n").cast("double"))
    for c in completeness_cols:
        triples.append(
            (
                c,
                "completeness",
                F.col(f"__nn_{c}").cast("double") / nz,
            )
        )
    for c in distinct_cols:
        triples.append((c, "n_distinct", F.col(f"__nd_{c}").cast("double")))
    for c in numeric_cols:
        triples.append((c, "min", F.col(f"__min_{c}")))
        triples.append((c, "max", F.col(f"__max_{c}")))
        triples.append(
            (
                c,
                "mean",
                # floor form, not F.round — see the entry-module
                # cross-engine rounding rule
                F.floor(
                    F.col(f"__sum_{c}").cast("double")
                    / F.when(
                        F.col(f"__cnt_{c}") > 0,
                        F.col(f"__cnt_{c}").cast("double"),
                    )
                    * float(10**MEAN_ROUND)
                    + 0.5
                )
                / float(10**MEAN_ROUND),
            )
        )
    exploded = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(cn).alias("col_name"),
                        F.lit(m).alias("metric"),
                        v.alias("value"),
                    )
                    for cn, m, v in triples
                ]
            )
        ).alias("kv")
    )
    return exploded.select("kv.col_name", "kv.metric", "kv.value")
