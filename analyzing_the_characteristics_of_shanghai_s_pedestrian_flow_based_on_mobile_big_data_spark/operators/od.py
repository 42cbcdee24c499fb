"""Origin–destination mobility matrices, long form.

The reference assembles hour-keyed scipy CSR matrices on the driver
(``cal_mobility_matrix.py:153-206``: RDD reduceByKey → combineByKey →
collect → numpy). That caps the product at what fits in one python
process. Here the OD matrix *is* a DataFrame ``(hour, orig, dest, cnt)``
— it distributes, joins, and incrementally updates like any other
table; :func:`to_wide` is the edge adapter to the reference's wide
export shape, run only at the final (tiny: regions²) size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def od_matrix(edges: DataFrame) -> DataFrame:
    """Transitions entering each hour: count per (hour, orig, dest)
    (cal_mobility_matrix.py:167 ``reduceByKey(add)`` over
    'orig;dest;hour' keys — here a hash aggregate with map-side
    partial aggregation, no string key packing)."""
    return edges.groupBy(
        F.col("hour"),
        F.col("pre_region_id").alias("orig"),
        F.col("region_id").alias("dest"),
    ).agg(F.count("*").alias("cnt"))


def od_fractions(od: DataFrame) -> DataFrame:
    """Row-normalized transition fractions: cnt / Σ_dest cnt per
    (hour, orig); empty origins never appear so NaN→0 folding
    (cal_mobility_matrix.py:188-197) is structural here.

    Window-sum over (hour, orig) instead of a self-join: one shuffle,
    already partitioned correctly after od_matrix's groupBy.
    """
    w = Window.partitionBy("hour", "orig")
    return od.withColumn(
        "frac", F.col("cnt").cast("double") / F.sum("cnt").over(w)
    )


def to_wide(od: DataFrame, dest_ids: list[int]) -> DataFrame:
    """Pivot one long-form OD slice to a wide matrix (orig × dest
    columns) — the export shape the reference pickles
    (cal_mobility_matrix.py:177-185). Explicit dest id list keeps the
    pivot single-pass (no value-discovery scan)."""
    return (
        od.groupBy("hour", "orig")
        .pivot("dest", dest_ids)
        .sum("cnt")
        .na.fill(0)
    )
