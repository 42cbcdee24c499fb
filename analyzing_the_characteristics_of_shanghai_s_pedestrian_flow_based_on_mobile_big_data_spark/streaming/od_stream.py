"""Stateful streaming OD-edge extraction.

The reference's OD matrix is a batch job over a closed month
(``cal_mobility_matrix.py``). The streaming-native equivalent needs
*state*: each user's last-known (hour, region) must survive across
micro-batches so a transition edge is emitted the moment the next
position arrives. That is exactly ``applyInPandasWithState``: state
keyed by user, value = last position; each batch folds its new
positions through the state and emits ``(user, hour, pre_hour,
region, pre_region)`` edges — the same edge schema the batch
``gap_fill_edges`` produces for its plain-transition branch.

Scale notes: state is O(users) × 20 bytes — 3.4M users (reference
scale, cal_user_trace.py:135) ≈ 70 MB across the cluster, trivially
partitioned by the user key. Output is append-mode, so downstream
(od_matrix aggregation over the edge stream) composes with
``foreachBatch`` incremental upsert.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from .driver import file_stream

POSITIONS_SCHEMA = "user_id long, hour timestamp, region_id int"

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("hour", T.TimestampType()),
        T.StructField("pre_hour", T.TimestampType()),
        T.StructField("region_id", T.IntegerType()),
        T.StructField("pre_region_id", T.IntegerType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_hour_us", T.LongType()),
        T.StructField("last_region", T.IntegerType()),
    ]
)


def _fold_positions(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        last_hour_us, last_region = state.get
    else:
        last_hour_us, last_region = None, None
    rows = []
    pdf = pd.concat(list(batches), ignore_index=True)
    pdf = pdf.sort_values("hour")
    for _, r in pdf.iterrows():
        hour = r["hour"]
        hour_us = int(hour.value // 1000)  # pandas ns → µs
        region = int(r["region_id"])
        if last_hour_us is not None and hour_us > last_hour_us:
            rows.append(
                (
                    user_id,
                    hour,
                    pd.Timestamp(last_hour_us * 1000),
                    region,
                    last_region,
                )
            )
        if last_hour_us is None or hour_us > last_hour_us:
            last_hour_us, last_region = hour_us, region
    state.update((last_hour_us, last_region))
    yield pd.DataFrame(
        rows, columns=["user_id", "hour", "pre_hour", "region_id", "pre_region_id"]
    )


def streaming_od_edges(positions_stream: DataFrame) -> DataFrame:
    """positions stream (user_id, hour, region_id) → transition-edge
    stream via per-user state. Append output mode."""
    return positions_stream.groupBy("user_id").applyInPandasWithState(
        _fold_positions,
        EDGE_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _to_memory(df: DataFrame, query_name: str, checkpoint_dir: str | None):
    """Start an append-mode memory sink named ``query_name``."""
    writer = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def run_od_stream_over_dir(
    spark,
    positions_dir: str,
    query_name: str = "od_edges",
    checkpoint_dir: str | None = None,
) -> "object":
    """Drive the stateful OD over a directory of position parquet files
    (one micro-batch per file, streaming/driver.py). Returns the
    running StreamingQuery; caller pumps with processAllAvailable()."""
    src = file_stream(spark, positions_dir, POSITIONS_SCHEMA)
    return _to_memory(streaming_od_edges(src), query_name, checkpoint_dir)


def streaming_gap_outliers(
    positions_stream: DataFrame, max_fill_hours: int = 24
) -> DataFrame:
    """Streaming twin of operators.trajectory.gap_outliers — the
    reference's ``get_more_24`` QA report (cal_mobility_matrix.py:92-93)
    as a LIVE feed: hops whose hour gap exceeds the fill horizon, with
    gap_h attached, emitted as soon as the closing position arrives.

    Pure stateless filter+projection ON TOP of the stateful edge
    stream — the per-user last-position state is shared with the OD
    edge derivation, so running both costs ONE state store. In
    production this sinks to the ops alert topic; an operator sees a
    broken trajectory the micro-batch it closes instead of at
    month-end QA."""
    edges = streaming_od_edges(positions_stream)
    gap = F.expr("timestampdiff(HOUR, pre_hour, hour)")
    return edges.withColumn("gap_h", gap).filter(
        F.col("gap_h") > max_fill_hours
    ).select(
        "user_id", "region_id", "hour", "pre_hour", "pre_region_id", "gap_h"
    )


def run_gap_outlier_stream_over_dir(
    spark,
    positions_dir: str,
    query_name: str = "gap_outliers",
    checkpoint_dir: str | None = None,
    max_fill_hours: int = 24,
) -> "object":
    """Drive the streaming gap-outlier report over a directory of
    position parquet files (one micro-batch per file)."""
    src = file_stream(spark, positions_dir, POSITIONS_SCHEMA)
    return _to_memory(
        streaming_gap_outliers(src, max_fill_hours), query_name, checkpoint_dir
    )
