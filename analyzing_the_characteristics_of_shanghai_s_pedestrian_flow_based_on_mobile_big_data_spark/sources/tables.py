"""Typed sources & sinks (SURVEY.md §2.1 S1–S11).

The reference reads raw TSV signaling logs with inferred schemas
(``geo-analytics/ppl_days.py:14``), POI dimension CSVs
(``cal_orig_area.py:75``), and Parquet via SQL-over-path
(``cal_user_trace.py:21``). Here every source is schema-declared
(no inference — at 100 TB a schema-inference pass is a full extra
scan) and every sink is partitioned Parquet.

The driver's synthetic testdata (TESTDATA.md) plays the role of the
reference's tables: ``events`` stands in for the signaling-ping fact
(user_id↔imei_id), with a deterministic derived ``region_id`` so the
occupancy / OD / home-location operators have a location column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Signaling-ping fact, reference raw shape: imei_id, lgt, ltt, ts (+imsi)
# (cal_subarea_portion.py:26; community.py:16; ppl_days.py:14).
PINGS_SCHEMA = T.StructType(
    [
        T.StructField("imei_id", T.StringType(), False),
        T.StructField("imsi", T.StringType(), True),
        T.StructField("lgt", T.DoubleType(), True),
        T.StructField("ltt", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# POI dimension (cal_orig_area.py:75-76, cal_subarea_portion.py:180-181).
POI_SCHEMA = T.StructType(
    [
        T.StructField("longitude", T.DoubleType(), False),
        T.StructField("latitude", T.DoubleType(), False),
        T.StructField("type", T.IntegerType(), True),
        T.StructField("Title", T.StringType(), True),
        T.StructField("Larea", T.DoubleType(), True),
    ]
)

# Region surrogate-key dim built by region.py:42-53.
REGION_GEOHASH_SCHEMA = T.StructType(
    [
        T.StructField("agent_id", T.IntegerType(), False),
        T.StructField("geohash5", T.StringType(), True),
        T.StructField("geohash6", T.StringType(), True),
        T.StructField("geohash7", T.StringType(), True),
        T.StructField("geohash8", T.StringType(), True),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (S3/S4). Catalyst pushes filters/projections down."""
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan that cannot yield enough input
    splits to occupy the cluster — the \"one huge unsplittable file\"
    remedy (input skew): a single small parquet file is ONE scan task,
    so every expression-heavy projection above it runs on one core
    while the rest idle. The gate is SCALE-ADAPTIVE, driven by the
    actual input bytes vs the session's split size: it fires only when
    the file set provably produces fewer splits than half the
    session's defaultParallelism, so at production scale — where any
    real corpus is thousands of splits — this is a no-op and the plan
    stays exchange-free. The round-robin
    exchange it inserts locally shuffles only the small scan's bytes,
    and Spark's sort-before-repartition (on by default) keeps the
    row-to-partition assignment deterministic under task retries.

    Returns ``df`` unchanged when the input layout cannot be inspected
    (non-file sources, remote filesystems) — never guesses."""
    import os as _os
    from urllib.parse import urlparse

    spark = df.sparkSession
    min_tasks = spark.sparkContext.defaultParallelism
    if min_tasks < 2:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file"):
            return df  # remote FS: split sizing is the planner's call
        try:
            total += _os.path.getsize(parsed.path or f)
        except OSError:
            return df
    try:
        max_split = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except Exception:
        max_split = 128 * 1024 * 1024
    open_cost = 4 * 1024 * 1024
    # Spark packs openCost-padded files into maxPartitionBytes bins, so
    # this ceiling bounds the split count the planner can produce; when
    # even that is under half the cores, the scan is starving them
    splits_upper = -(-(total + open_cost * len(files)) // max_split)
    if splits_upper <= min_tasks // 2:
        return df.repartition(min_tasks)
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events-table reader, robust to the three timestamp physical
    encodings the generator has produced across rounds:

    - nanosecond INT64 (Spark's vectorized reader rejects it with
      [PARQUET_TYPE_ILLEGAL] unless read as long): legacy nanosAsLong
      + integer DIV 1000 to micros — the same truncation DuckDB
      applies, so oracle semantics match;
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark reads
      TIMESTAMP_NTZ: cast to session-tz TIMESTAMP (UTC session ⇒
      identical values, and the schema the oracle compare expects);
    - plain TIMESTAMP: pass through.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # integer division — going through double would lose precision
        # on 1.7e18-scale nanosecond values (> 2^53)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_pings_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S1: tab-delimited signaling log with header, schema declared.

    Replaces the reference's inferred read (ppl_days.py:14) and its
    string-split date UDF (ppl_days.py:16-21) with native ``to_date``
    — the whole ETL stays in one codegen stage, no python workers.
    """
    df = (
        spark.read.options(delimiter="\t", header=True)
        .schema(PINGS_SCHEMA)
        .csv(path)
    )
    return df.withColumn("date", F.to_date("ts"))


def read_pings_tsv_permissive(spark: SparkSession, path: str) -> DataFrame:
    """S1 under dirty input: PERMISSIVE parse with the malformed raw
    line captured in ``_corrupt`` instead of failing the job — at
    100 TB a single mangled log line must not kill a day's ETL, and
    quarantining the raw text (filter ``_corrupt IS NOT NULL`` to a
    reject sink) beats DROPMALFORMED's silent data loss."""
    schema = T.StructType(
        PINGS_SCHEMA.fields + [T.StructField("_corrupt", T.StringType())]
    )
    df = (
        spark.read.options(
            delimiter="\t",
            header=True,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord="_corrupt",
        )
        .schema(schema)
        .csv(path)
    )
    return df.withColumn("date", F.to_date("ts"))


def read_poi_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: POI dimension CSV with declared schema (cal_orig_area.py:75)."""
    return spark.read.options(header=True).schema(POI_SCHEMA).csv(path)


# "[[lon, lat]]" point literal used by the reference's district POI
# exports (geo-analytics/子区域划分/shanghai_jingan.csv, type7.csv).
_POINT_RE = r"\[\[\s*(-?[0-9.]+)\s*,\s*(-?[0-9.]+)\s*\]\]"


def read_poi_district_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2 variant: the reference's per-district / per-type POI exports.

    Two header shapes exist in the reference's own data
    (``geo-analytics/子区域划分/``):

    - ``Point,Type,NAME,KIND[,TELEPHONE][,ADMINCODE,ADDRESS]`` —
      ``type{1..7}.csv``;
    - ``name,point,type`` — ``shanghai_<district>.csv`` (type as a
      float literal like ``1.0``).

    Both carry the coordinate as a ``"[[lon, lat]]"`` string. This
    reader normalizes either shape into the POI dimension schema
    (longitude, latitude, type, Title) + optional ``kind`` /
    ``admincode`` passthrough columns (NULL when the variant lacks
    them), so every district file joins the same downstream plan.

    All columns are read as strings (no inference pass — a dim read
    must not cost an extra scan) and parsed with native regexp/cast
    expressions; rows whose point fails the pattern get NULL
    coordinates rather than killing the ingest.
    """
    df = spark.read.options(header=True).csv(path)
    cols = {c.lower(): c for c in df.columns}

    def col_or_null(*names: str) -> F.Column:
        for n in names:
            if n in cols:
                return F.col(f"`{cols[n]}`")
        return F.lit(None).cast("string")

    point = col_or_null("point")
    lon = F.regexp_extract(point, _POINT_RE, 1)
    lat = F.regexp_extract(point, _POINT_RE, 2)
    return df.select(
        F.when(lon != "", lon).cast("double").alias("longitude"),
        F.when(lat != "", lat).cast("double").alias("latitude"),
        # district files carry type as "1.0": go through double
        col_or_null("type").cast("double").cast("int").alias("type"),
        col_or_null("name", "title").alias("Title"),
        col_or_null("kind").alias("kind"),
        col_or_null("admincode").alias("admincode"),
    )


def write_partitioned_parquet(df: DataFrame, path: str, partition_col: str = "date") -> None:
    """S8: date-partitioned Parquet sink (ppl_days.py:23) — the layout
    that makes every downstream date-range read partition-pruned."""
    df.write.partitionBy(partition_col).mode("overwrite").parquet(path)


def events_as_pings(spark: SparkSession, sf_dir: str, n_regions: int = 20) -> DataFrame:
    """Adapt the ``events`` testdata table to the ping-fact shape the
    pedestrian-flow operators consume: (user_id, ts, hour, region_id).

    ``region_id`` is a deterministic pure-Catalyst derivation
    (floor(value) mod n_regions, 1-based; 0 is reserved for the
    out-of-observation sentinel exactly as the reference reserves the
    string '0' — cal_orig_area.py:88-90, cal_mobility_matrix.py:110).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "ts",
        F.date_trunc("hour", "ts").alias("hour"),
        (F.pmod(F.floor("value").cast("long"), F.lit(n_regions)) + 1)
        .cast("int")
        .alias("region_id"),
        "event_type",
        "event_id",
    )


# DuckDB-side equivalent of events_as_pings' region derivation, kept next
# to the Spark definition so the two can never drift. Spark's F.pmod is
# always non-negative; DuckDB's % is C-style remainder (sign follows the
# dividend) — the double-wrap makes the twin agree for negative values
# too, not just the value >= 0 range the testdata happens to cover.
PINGS_REGION_SQL = (
    "(((CAST(floor(value) AS BIGINT) % {n}) + {n}) % {n}) + 1"
)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink (one object per row) — the interchange format
    most text-corpus tooling consumes. Spark's json writer is already
    line-delimited; gzip keeps the files splittable-enough for
    re-ingestion at corpus scale (one file per partition)."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan. Pass an explicit schema in production: without
    one Spark runs a full inference pre-pass over the data (2× read at
    100 TB)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — columnar alternative when the downstream stack is
    Hive/Trino-flavored; same predicate-pushdown + column-pruning
    properties as parquet."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> list[str]:
    """Register every dataset table as a temp view so users can drive
    the engine through pure ``spark.sql`` (the same names the DuckDB
    oracle uses). Views are lazy — each query still gets full pushdown
    and partition pruning through the view. Returns the view names."""
    names = []
    for t in TABLE_NAMES:
        name = f"{prefix}{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_rows_per_file: int = 1 << 20,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction (the lakehouse OPTIMIZE maintenance pass).

    Streaming sinks and incremental merges accrete many small files;
    at scale that means open/seek overhead and useless row groups.
    Rewrite to ~target_rows_per_file: one range exchange when a
    ``sort_col`` is given (each output file then covers a tight key
    interval, so min/max pruning works — pair with
    functions/zorder.py keys for multi-column pruning), else a plain
    round-robin repartition. Returns the number of output files
    requested."""
    import math

    df = spark.read.parquet(in_path)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    if sort_col is not None:
        df = df.repartitionByRange(files, F.col(sort_col)).sortWithinPartitions(
            sort_col
        )
    else:
        df = df.repartition(files)
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(out_path)
    )
    return files
