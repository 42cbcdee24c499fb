"""The one stream driver for file-fed streams.

Every file-fed stream in this package reads a parquet directory ONE
FILE PER MICRO-BATCH, so whoever adds files to the directory (a test,
a closed-loop feed, a landing zone) decides the batch boundaries
exactly. :func:`file_stream` is that source; the memory-sink drivers
(``od_stream``, ``sessions``) build on it, and
:func:`foreach_batch_stream` runs it into a checkpointed
``foreachBatch`` upsert — the sink of every ``incremental_*_stream``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def file_stream(spark: SparkSession, src_dir: str, schema) -> DataFrame:
    """Streaming DataFrame over the parquet files in ``src_dir``, one
    file per trigger. File streams need a declared ``schema`` (DDL
    string or StructType) — there is no inference."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def foreach_batch_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    checkpoint_dir: str,
    upsert: Callable[[DataFrame, int], None],
):
    """Start :func:`file_stream` over ``src_dir`` with ``upsert(batch,
    epoch_id)`` as its foreachBatch sink, checkpointed at
    ``checkpoint_dir``. Returns the running StreamingQuery."""
    return (
        file_stream(spark, src_dir, schema)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
