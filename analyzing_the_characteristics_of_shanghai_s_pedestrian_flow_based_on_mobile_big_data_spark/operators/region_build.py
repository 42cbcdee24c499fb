"""Region-dimension construction and ping→region assignment.

Re-expresses the reference's region pipeline:

- ``region.py:42-53``: geohash-encode POIs at precisions 5–8 and mint a
  dense surrogate ``agent_id`` over geohash5. The reference forces a
  single-partition window with a constant-literal partition key
  (``region.py:50`` — every row through one task). Here
  :func:`mint_dense_ids` picks the strategy: a global dense_rank for
  small dims (hundreds of regions — the reference's 356), or the
  two-phase variant for large dims (fine-grained 5081+ subareas, grid
  cells): distinct anchor keys → range-repartition → parallel
  per-partition local ranks → tiny per-partition-count collect →
  local rank + cumulative offset, joined back — no single-partition
  stage anywhere (plan-asserted in ``tests/test_plans.py``).
- ``cal_orig_area.py:24-43,88-90``: cascading geohash broadcast joins
  (try fine precision, fall back to coarse, default 0) — built on the
  single-pass :func:`..operators.cascade.cascade_join`, so the ping
  fact is scanned once, not once per precision.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Native (JVM whole-stage-codegen) encoder: keeps every geohash join
# key in this module on the single self-consistent encoder family and
# leaves no executor-side Python in the build/assign plans. Per the
# encoder-mixing warning in functions/geohash.py, the Arrow bisection
# encoder must never feed the same join-key domain.
from ..functions.geohash import geohash_encode_native as geohash_encode
from .cascade import cascade_join


def mint_dense_ids(
    dim: DataFrame,
    anchor_cols: Sequence[str],
    id_col: str = "agent_id",
    large: bool = False,
) -> DataFrame:
    """Dense 1-based surrogate ids over the anchor-key order, attached
    to every input row.

    ``large=False``: global ``dense_rank`` — one single-partition
    window, fine for dimension tables in the hundreds/thousands (the
    reference's 356 regions; its constant-literal partition trick at
    region.py:50-53 is the same bottleneck, kept only at small scale).

    ``large=True`` (two-phase, no single-partition stage anywhere):

    1. distinct anchor keys, ``repartitionByRange`` on the anchor
       order into defaultParallelism partitions — partition *i* holds
       keys strictly below partition *i+1*'s;
    2. parallel per-partition local ``row_number`` (window keyed on
       ``spark_partition_id`` — distinct keys make row_number a dense
       rank);
    3. per-partition counts collected to the driver (one row per
       partition — bounded by the partition count, not the data) and
       turned into cumulative offsets;
    4. global id = local rank + partition offset (literal map lookup),
       then joined back to the input on the anchor keys (AQE picks
       broadcast when the key table is small).

    Global ids are identical between the two paths for any input
    (pytest-pinned), so callers can flip ``large`` on table-size alone.
    """
    anchors = list(anchor_cols)
    if not large:
        w = Window.orderBy(*anchors)
        return dim.withColumn(id_col, F.dense_rank().over(w))
    spark = dim.sparkSession
    nparts = spark.sparkContext.defaultParallelism
    keyed = (
        dim.select(*anchors)
        .distinct()
        .repartitionByRange(nparts, *[F.col(a) for a in anchors])
        .withColumn("__pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("__pid").orderBy(*anchors)
    local = keyed.withColumn("__lrk", F.row_number().over(w_local)).persist()
    counts = {
        r["__pid"]: r["n"]
        for r in local.groupBy("__pid").agg(F.max("__lrk").alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_map = F.create_map(
        *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
    )
    ids = local.select(
        *anchors,
        (F.col("__lrk") + F.element_at(offset_map, F.col("__pid")))
        .cast("int")
        .alias(id_col),
    )
    return dim.join(ids, anchors)


#: Above this many input rows the id mint switches to the two-phase
#: path automatically: a dimension that large can exceed one task's
#: sort budget in the global-window path. (Row count bounds the
#: distinct anchor count, so it is a safe, join-free proxy.)
LARGE_DIM_THRESHOLD = 100_000


def build_region_dim(
    poi: DataFrame,
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    precisions: Sequence[int] = (5, 6, 7, 8),
    anchor_precision: int = 5,
) -> DataFrame:
    """POI table → region dimension with geohash columns and a dense
    1-based ``agent_id`` keyed on the anchor-precision geohash
    (region.py:42-53).

    One ``count()`` on the POI input (a dimension-sized job, dwarfed
    by the build itself) against :data:`LARGE_DIM_THRESHOLD` routes id
    minting: above it through the two-phase path (no single-partition
    window anywhere — fine-grained dims: 5081+ subareas, grid cells),
    else through the global window. The two paths mint identical ids
    (pytest-pinned), so the switch is purely a physical-plan
    decision."""
    large_dim = poi.count() > LARGE_DIM_THRESHOLD
    out = poi
    for p in precisions:
        out = out.withColumn(
            f"geohash{p}", geohash_encode(F.col(lat_col), F.col(lon_col), p)
        )
    anchor = f"geohash{anchor_precision}"
    return mint_dense_ids(out, [anchor], "agent_id", large=large_dim)


#: The reference's POI-type probe order: type 7 at geohash8, 6 and 5 at
#: geohash7, 4..1 at geohash6, unmatched → 8
#: (cal_subarea_portion.py:40-76).
DEFAULT_TYPE_LEVELS: Sequence[tuple[int, int]] = (
    (7, 8),
    (6, 7),
    (5, 7),
    (4, 6),
    (3, 6),
    (2, 6),
    (1, 6),
)


def assign_poi_type(
    pings: DataFrame,
    poi_dim: DataFrame,
    lat_col: str = "ltt",
    lon_col: str = "lgt",
    type_levels: Sequence[tuple[int, int]] = DEFAULT_TYPE_LEVELS,
    default_type: int = 8,
) -> DataFrame:
    """Attach a POI ``type`` to each ping via the reference's 8-level
    type-priority cascade (cal_subarea_portion.py:34-76), single-pass.

    ``poi_dim`` must carry ``type`` and the geohash columns produced by
    :func:`build_region_dim`. Each cascade level is (poi_type,
    geohash_precision): a ping matches the level if its geohash at that
    precision equals any POI cell of that type; the first (highest-
    priority) hit wins, else ``default_type`` (the reference's
    "unmatched" 8).
    """
    precisions = sorted({p for _, p in type_levels})
    fact = pings
    for p in precisions:
        fact = fact.withColumn(
            f"__gh{p}", geohash_encode(F.col(lat_col), F.col(lon_col), p)
        )
    levels = []
    for t, p in type_levels:
        dim = (
            poi_dim.filter(F.col("type") == t)
            .select(F.col(f"geohash{p}"), F.lit(t).alias("lvl_type"))
        )
        levels.append((dim, f"__gh{p}", f"geohash{p}", "lvl_type"))
    out = cascade_join(fact, levels, "poi_type", F.lit(default_type))
    return out.drop(*[f"__gh{p}" for p in precisions]).withColumn(
        "poi_type", F.col("poi_type").cast("int")
    )


def nearest_poi_type(
    pings: DataFrame,
    poi: DataFrame,
    key: str = "agent_id",
    ping_lat: str = "ltt",
    ping_lon: str = "lgt",
) -> DataFrame:
    """Type of the nearest POI within the ping's own subarea — replaces
    the reference's closure-capturing python UDF over a driver dict
    (cal_subarea_portion.py:142-149, D3) with a join + native haversine
    + ``min_by``. Ties break to the smallest type (the reference's
    np.argmin takes the first, which is load-order dependent; ours is
    deterministic)."""
    from ..functions.geo import haversine_m

    cand = poi.select(
        F.col(key), F.col("latitude"), F.col("longitude"), F.col("type")
    )
    joined = pings.join(F.broadcast(cand), key)
    dist = haversine_m(
        F.col(ping_lat), F.col(ping_lon), F.col("latitude"), F.col("longitude")
    )
    ping_keys = [c for c in pings.columns]
    return (
        joined.withColumn("__dist", dist)
        .groupBy(*ping_keys)
        .agg(
            F.min_by("type", F.struct("__dist", "type")).alias("nearest_type")
        )
    )


def assign_region(
    pings: DataFrame,
    region_dim: DataFrame,
    lat_col: str = "ltt",
    lon_col: str = "lgt",
    precisions: Sequence[int] = (6, 5),
    default_region: int = 0,
) -> DataFrame:
    """Attach ``agent_id`` to each ping by cascading geohash precision
    (finest first), defaulting to the out-of-area sentinel
    (cal_orig_area.py:24-43 + default at :88-90, single-pass)."""
    fact = pings
    for p in precisions:
        fact = fact.withColumn(
            f"__gh{p}", geohash_encode(F.col(lat_col), F.col(lon_col), p)
        )
    levels = [
        (region_dim, f"__gh{p}", f"geohash{p}", "agent_id") for p in precisions
    ]
    out = cascade_join(
        fact, levels, "region_id", F.lit(default_region), broadcast_dims=True
    )
    return out.drop(*[f"__gh{p}" for p in precisions]).withColumn(
        "region_id", F.col("region_id").cast("int")
    )
