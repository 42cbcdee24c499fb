"""Streaming session windows — stateful gap-merge sessionization.

The streaming counterpart of the batch ``session_window_stats`` query
(oracle-checked there): ``F.session_window`` under a watermark keeps
per-(user, open-session) state, merges windows as late events arrive
inside the gap, and emits a session once the watermark passes its
close. State per key is one (start, end, count) tuple — O(active
users), the same budget as the stateful OD stream.

Batch/stream parity is the test contract: running the same
aggregation over the same files in batch mode must equal the streamed
complete-mode result (tests/test_streaming_sessions.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .driver import file_stream


def streaming_session_counts(
    src: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """(user_id, session_start, n_events) per merged session.

    ``src``: a streaming DataFrame with ``user_id`` and timestamp
    ``ts``. Watermark bounds the state: sessions whose window closed
    more than ``watermark`` before the max seen ts are finalized and
    dropped from the store.
    """
    return (
        src.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def run_session_stream_to_memory(
    spark: SparkSession,
    events_dir: str,
    schema,
    query_name: str = "stream_sessions",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
):
    """Drive a parquet-directory source through the session aggregation
    into a complete-mode memory sink; returns the StreamingQuery."""
    return (
        streaming_session_counts(
            file_stream(spark, events_dir, schema), gap, watermark
        )
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .start()
    )
