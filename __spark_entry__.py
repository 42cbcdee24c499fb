"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship occupancy query (smoke, sf0.001).
``queries()`` — named (spark, sf_dir) -> DataFrame callables, one per
implemented operator from SURVEY.md §2 + north-star extensions.
``oracle_sql()`` — DuckDB-runnable ANSI SQL twins.

Cross-engine determinism rules used throughout (so the driver's
order-insensitive value hash matches bit-for-bit):
- grouped SUMs of doubles go through DECIMAL (exact, association-order
  independent), are cast back to DOUBLE at the end, and rounded to 2
  decimals on BOTH engines — DuckDB's DECIMAL→DOUBLE cast can differ
  from Java's correctly-rounded conversion by 1 ulp at 1e9+ magnitudes;
- comparisons against aggregates (e.g. balance > nation mean) are
  restated in exact decimal arithmetic (bal*n > sum), never via floats;
- array math folds sequentially left-to-right on both sides
  (F.aggregate ↔ list_reduce);
- ranking ties always broken by an explicit unique key;
- trig-heavy outputs (haversine) are bucketed coarsely enough that a
  1-ulp libm divergence cannot flip a bucket;
- rounding a DOUBLE quotient for output goes through the explicit
  floor form floor(x·10^s + 0.5)/10^s when the result set is large or
  the value feeds further iteration: library round() interprets the
  double differently across engines near half boundaries (measured:
  1 of 512 k-means centroid coords diverged in the 9th decimal at
  sf0.1 before the switch); the floor form is the same IEEE
  instruction sequence on both engines, so it cannot diverge.

Environment constraint: collected Spark timestamps render in the
*process* timezone (PySpark uses datetime.fromtimestamp), so the
oracle comparison assumes a UTC host — true of this container; the
harness was probed under TZ=Asia/Shanghai to confirm that is the only
sensitivity.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark as shflow  # noqa: E402
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark import (  # noqa: E402
    operators as ops,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions import (  # noqa: E402
    text as tx,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.exprmemo import (  # noqa: E402
    cached,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (  # noqa: E402
    hash_bucket,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (  # noqa: E402
    predict_lang_ngram_cached,
    predict_lang_tokens_cached,
    script_profile_cols_cached,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.session import (  # noqa: E402
    tune_for_session,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (  # noqa: E402
    events_as_pings,
    fan_out_small_scan,
    load_table,
)

N_REGIONS = 20
# pmod twin: Spark's F.pmod is always non-negative while DuckDB's % is
# C-style remainder (negative for negative operands) — double-wrap so
# both agree for any sign of `value`.
REGION_SQL = (
    f"(((CAST(floor(value) AS BIGINT) % {N_REGIONS}) + {N_REGIONS})"
    f" % {N_REGIONS}) + 1"
)

# Shared oracle CTE: events → deterministic hourly positions (latest
# event per user-hour) — mirror of sources.events_as_pings +
# operators.trajectory.hourly_positions.
POSITIONS_CTE = f"""
pos AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST({REGION_SQL} AS INTEGER) AS region_id
  FROM events
  QUALIFY row_number() OVER (
    PARTITION BY user_id, date_trunc('hour', ts)
    ORDER BY ts DESC, event_id DESC) = 1
)
"""

# Shared oracle CTE: positions → gap-filled trajectory edges — mirror of
# operators.trajectory.gap_fill_edges (five _add_records branches,
# /root/reference/cal_mobility_matrix.py:105-127).
EDGES_CTE = (
    POSITIONS_CTE
    + """,
ctx AS (
  SELECT user_id, hour, region_id,
         lag(hour) OVER w AS pre_hour,
         lag(region_id) OVER w AS pre_region_id,
         lead(hour) OVER w AS next_hour,
         date_diff('hour', lag(hour) OVER w, hour) AS gap
  FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY hour)
),
edges AS (
  SELECT user_id, region_id, hour,
         hour - INTERVAL 1 HOUR AS pre_hour, 0 AS pre_region_id
  FROM ctx WHERE pre_hour IS NULL
  UNION ALL
  SELECT user_id, region_id, hour, pre_hour, pre_region_id
  FROM ctx WHERE gap = 1
  UNION ALL
  SELECT user_id, pre_region_id AS region_id,
         pre_hour + i * INTERVAL 1 HOUR AS hour,
         pre_hour + (i - 1) * INTERVAL 1 HOUR AS pre_hour,
         pre_region_id
  FROM (SELECT *, unnest(generate_series(1, CAST(gap AS BIGINT) - 1)) AS i
        FROM ctx WHERE gap > 1 AND gap <= 24)
  UNION ALL
  SELECT user_id, region_id, hour, hour - INTERVAL 1 HOUR, pre_region_id
  FROM ctx WHERE gap > 1 AND gap <= 24
  UNION ALL
  SELECT user_id, 0, pre_hour + INTERVAL 1 HOUR, pre_hour, pre_region_id
  FROM ctx WHERE gap > 24
  UNION ALL
  SELECT user_id, region_id, hour, hour - INTERVAL 1 HOUR, 0
  FROM ctx WHERE gap > 24
  UNION ALL
  SELECT user_id, 0, hour + INTERVAL 1 HOUR, hour, region_id
  FROM ctx WHERE next_hour IS NULL
)
"""
)

NIGHT_ANCHORS_CTE = f"""
npos AS (
  SELECT user_id, ts, CAST({REGION_SQL} AS INTEGER) AS region_id,
         CASE WHEN hour(ts) <= 8 THEN CAST(ts AS DATE) - 1
              ELSE CAST(ts AS DATE) END AS night
  FROM events
  WHERE hour(ts) >= 19 OR hour(ts) <= 8
),
anchors AS (
  SELECT user_id, night, region_id
  FROM npos
  QUALIFY row_number() OVER (
    PARTITION BY user_id, night ORDER BY ts ASC, region_id ASC) = 1
)
"""


def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,4)")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hourly region occupancy (distinct users per region-hour)
    on sf0.001 — the reference's first real query (cal_user_trace.py:35),
    744 driver-loop jobs collapsed into one groupBy."""
    tune_for_session(spark)
    pings = events_as_pings(spark, "/root/testdata/sf0.001", N_REGIONS)
    return ops.occupancy(pings)


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def _q_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    pings = events_as_pings(spark, sf_dir, N_REGIONS)
    return ops.occupancy(pings)


def _q_hourly_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))


def _q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    return ops.gap_fill_edges(pos)


def _q_gap_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``get_more_24`` QA artifact
    (cal_mobility_matrix.py:92-93): hops whose hour gap exceeds the
    24 h fill horizon — the rows the gap-fill refuses to interpolate."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    return ops.gap_outliers(pos)


def _q_district_poi_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exercise of the district POI CSV reader
    (sources.read_poi_district_csv) against the reference's
    ``Point,Type,NAME,KIND,…`` export shape
    (geo-analytics/子区域划分/type7.csv:1).

    A type{1..7}-shaped CSV fixture is rendered deterministically from
    the supplier dim (repr-formatted doubles, so the string→double
    parse in the reader roundtrips bit-exact), read back through the
    normalizing reader, and profiled per type. The driver-side render
    is fixture machinery, not a data path — the dim is collected
    bounded (a POI dim; the reference's largest district file is
    25 785 rows) and only so DuckDB can recompute the same values
    straight from supplier."""
    import tempfile

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        read_poi_district_csv,
    )

    sup = load_table(spark, sf_dir, "supplier")
    rows = (
        sup.select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
        .collect()
    )
    lines = ["Point,Type,NAME,KIND,ADMINCODE,ADDRESS"]
    for r in rows:
        k = int(r["s_suppkey"])
        lon = repr(121.0 + k / 1000.0)
        lat = repr(30.6 + k / 700.0)
        lines.append(
            f'"[[{lon}, {lat}]]",{k % 7 + 1},{r["s_name"]},K{k % 10},3101{k % 16:02d},addr{k}'
        )
    # deterministic PER-DATASET fixture path, atomically replaced —
    # bench runs this query repeatedly (mkdtemp leaked one dir per
    # run), but a single shared file would let a still-lazy plan built
    # for one sf_dir read another's fixture, and a concurrent writer
    # could expose a truncated file; keying the dir on sf_dir and
    # os.replace()-ing a temp file fixes both
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    tmp = os.path.join(tempfile.gettempdir(), f"district_poi_fixture_{tag}")
    os.makedirs(tmp, exist_ok=True)
    fpath = os.path.join(tmp, "type_fixture.csv")
    # per-process staging name: a SHARED .tmp would let a concurrent
    # writer truncate the inode mid-write and publish a partial file —
    # the rename is atomic, the staging path must be private too
    tmp_f = f"{fpath}.{os.getpid()}.tmp"
    with open(tmp_f, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp_f, fpath)

    poi = read_poi_district_csv(spark, fpath)
    return poi.groupBy(F.col("type").cast("long").alias("type")).agg(
        F.count("*").alias("n"),
        F.countDistinct("kind").alias("n_kinds"),
        F.countDistinct("admincode").alias("n_admincodes"),
        F.min("longitude").alias("min_lon"),
        F.max("latitude").alias("max_lat"),
        F.min("Title").alias("first_title"),
    )


def _q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    return ops.od_matrix(ops.gap_fill_edges(pos))


def _q_od_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    return ops.od_fractions(ops.od_matrix(ops.gap_fill_edges(pos)))


def _q_home_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.home_location(events_as_pings(spark, sf_dir, N_REGIONS))


def _q_night_single_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.night_single_region_users(events_as_pings(spark, sf_dir, N_REGIONS))


def _q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ops.mode_per_group(ev, "user_id", "event_type")


def _q_user_activity_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.countDistinct(F.to_date("ts")).alias("n_days"))
        .filter(F.col("n_days") >= 25)
    )


def _q_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
        F.count("*").alias("n"),
    )


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(
                F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
                .cast("double"),
                2,
            ).alias("sum_disc_price"),
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / F.count("*"), 2
            ).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


def _q_revenue_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
                .cast("double"),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


def _q_parts_with_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


def _q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def _q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ops.exact_dedup(docs)


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = tx.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.stopword_ratio(toks).alias("stop_ratio"),
        tx.quality_score(F.col("text")).alias("quality"),
    )


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5)
    return ops.brute_force_topk(emb, queries, k=3, dim=64)


# ---- batch 2: relational breadth -----------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("event_type") == "click")
            & (F.col("value") >= 10.0)
            & (F.col("value") <= 200.0)
        )
        .select(
            "event_id",
            "user_id",
            "value",
            F.round(
                (
                    F.col("value").cast("decimal(18,4)")
                    * F.lit(2).cast("decimal(18,4)")
                ).cast("double"),
                4,
            ).alias("value_x2"),
        )
    )


def _q_case_in_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type").isin("click", "view"), 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type").isin("signup"), 3)
        .otherwise(9)
    )
    return ev.groupBy(code.alias("type_code")).agg(F.count("*").alias("n"))


def _q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def _q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(_dec("o_totalprice")).over(w).cast("double"), 2).alias("running_total"),
    )


def _q_brand_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = Window.orderBy("p_brand")
    return (
        part.select("p_brand")
        .distinct()
        .withColumn("brand_id", F.dense_rank().over(w))
    )


def _q_two_phase_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 at scale: surrogate keys via the two-phase mint (range
    repartition → parallel local ranks → offset add → join back) —
    no single-partition window anywhere in the plan (contrast:
    brand_dense_rank is the small-dim global-window path)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.region_build import (
        mint_dense_ids,
    )

    part = load_table(spark, sf_dir, "part")
    return mint_dense_ids(
        part.select("p_partkey", "p_type"), ["p_type"], "type_id", large=True
    )


def _q_rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("total"),
    )


def _q_cube_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum(_dec("l_quantity")).cast("double"), 2).alias("qty"),
    )


def _q_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING")
    b = cust.filter(F.col("c_acctbal") > 9000)
    return (
        a.unionByName(b)
        .distinct()
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def _q_click_and_purchase_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


def _q_click_never_purchase_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.subtract(buys)  # EXCEPT (distinct set semantics)


def _q_pivot_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pv = (
        ev.groupBy(F.hour("ts").alias("hod"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pv.select(
        "hod", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


def _q_cascade_region_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").filter("c_custkey < 50")
    nation = load_table(spark, sf_dir, "nation")
    fact = ev.withColumn("nat_key", F.pmod("user_id", F.lit(25)).cast("int"))
    out = ops.cascade_join(
        fact,
        [
            (cust, "user_id", "c_custkey", "c_mktsegment"),
            (nation, "nat_key", "n_nationkey", "n_name"),
        ],
        "label",
        F.lit("UNKNOWN"),
    )
    return out.groupBy("label").agg(F.count("*").alias("n"))


def _q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.sessions import (
        session_stats,
        sessionize,
    )

    ev = load_table(spark, sf_dir, "events")
    return session_stats(sessionize(ev, gap_minutes=30))


def _q_event_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    w = Window.partitionBy("user_id").orderBy("hour")
    gaps = pos.withColumn(
        "gap_h", F.expr("timestampdiff(HOUR, lag(hour) OVER (PARTITION BY user_id ORDER BY hour), hour)")
    ).filter(F.col("gap_h").isNotNull())
    return gaps.groupBy("gap_h").agg(F.count("*").alias("n"))


def _q_first_event_per_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.to_date("ts").alias("day"), "event_id", "event_type")
    )


def _q_dedup_keep_latest_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    latest = ops.keep_latest(
        ev, ["user_id", "day"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return latest.select("user_id", "day", "event_id", "event_type")


def _q_haversine_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.geo import (
        haversine_m,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.lit(30.6) + F.col("value") / 700.0).alias("lat"),
        (F.lit(120.9) + F.col("value") / 560.0).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    hops = (
        pts.withColumn("pre_lat", F.lag("lat").over(w))
        .withColumn("pre_lon", F.lag("lon").over(w))
        .filter(F.col("pre_lat").isNotNull())
    )
    d = haversine_m(F.col("pre_lat"), F.col("pre_lon"), F.col("lat"), F.col("lon"))
    return hops.select(
        "event_id",
        F.round(d / 100.0, 0).cast("long").alias("dist_100m"),
    )


def _q_nearest_poi_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3/F10 oracle-paired: nearest-POI type per ping via broadcast
    join + native haversine + min_by argmin (replaces the reference's
    closure-captured python-dict UDF, cal_subarea_portion.py:142-149).
    Pings come from events, POIs from supplier — both with
    deterministically derived coordinates; ties break to the smallest
    type (the reference's np.argmin is load-order dependent)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.region_build import (
        nearest_poi_type,
    )

    ev = load_table(spark, sf_dir, "events")
    pings = ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(10)).cast("int").alias("agent_id"),
        (F.lit(30.6) + F.col("value") / 700.0).alias("ltt"),
        (F.lit(120.9) + F.col("value") / 560.0).alias("lgt"),
    )
    sup = load_table(spark, sf_dir, "supplier")
    poi = sup.select(
        F.pmod(F.col("s_suppkey"), F.lit(10)).cast("int").alias("agent_id"),
        (F.lit(30.6) + F.col("s_acctbal") / 10000.0).alias("latitude"),
        (F.lit(120.9) + F.col("s_suppkey") / 1000.0).alias("longitude"),
        (F.pmod(F.col("s_suppkey"), F.lit(8)) + 1).cast("int").alias("type"),
    )
    return nearest_poi_type(pings, poi, key="agent_id").select(
        "event_id", "nearest_type"
    )


def _q_grid_blocked_nearest_poi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7's neighbor-expansion morphology under a full oracle: bin
    coordinates to a 0.02-degree grid, expand each ping to its 3x3
    neighbor cells (explode — the same shape geohash_neighbors feeds at
    scale), equi-join POIs on the cell key, exact haversine argmin.
    Only candidates in the 9 cells are compared — the blocked spatial
    join that replaces an all-pairs distance scan at 100 TB."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.geo import (
        haversine_m,
    )

    ev = load_table(spark, sf_dir, "events")
    pings = ev.select(
        "event_id",
        (F.lit(30.6) + F.col("value") / 700.0).alias("ltt"),
        (F.lit(120.9) + F.col("value") / 560.0).alias("lgt"),
    )
    off = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    pings_exp = (
        pings.withColumn("cell_lat", F.floor(F.col("ltt") * 50).cast("long"))
        .withColumn("cell_lon", F.floor(F.col("lgt") * 50).cast("long"))
        .withColumn("di", F.explode(off))
        .withColumn("dj", F.explode(off))
        .select(
            "event_id",
            "ltt",
            "lgt",
            (F.col("cell_lat") + F.col("di")).alias("p_cell_lat"),
            (F.col("cell_lon") + F.col("dj")).alias("p_cell_lon"),
        )
    )
    sup = load_table(spark, sf_dir, "supplier")
    poi = sup.select(
        (F.lit(30.6) + F.col("s_acctbal") / 10000.0).alias("latitude"),
        (F.lit(120.9) + F.col("s_suppkey") / 1000.0).alias("longitude"),
        (F.pmod(F.col("s_suppkey"), F.lit(8)) + 1).cast("int").alias("type"),
    ).select(
        "latitude",
        "longitude",
        "type",
        F.floor(F.col("latitude") * 50).cast("long").alias("p_cell_lat"),
        F.floor(F.col("longitude") * 50).cast("long").alias("p_cell_lon"),
    )
    j = pings_exp.join(
        F.broadcast(poi), ["p_cell_lat", "p_cell_lon"]
    ).withColumn(
        "__dist",
        haversine_m(
            F.col("ltt"), F.col("lgt"), F.col("latitude"), F.col("longitude")
        ),
    )
    return j.groupBy("event_id").agg(
        F.min_by("type", F.struct("__dist", "type")).alias("nearest_type"),
        F.count("*").alias("n_candidates"),
    )


def _q_active_shipments_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (absent from the reference, SURVEY.md §2.3)
    via the bucketed equi-join rewrite: for each month-start probe
    date, count lineitems whose [shipdate, receiptdate] interval covers
    it. The bucket key turns what Spark would plan as a
    BroadcastNestedLoopJoin into a hash join (plan-asserted in
    tests/test_ranges.py)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.ranges import (
        bucketed_interval_join,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_date"),
        # the testdata lineitem carries no receiptdate — derive a
        # deterministic transit window from the quantity
        F.date_add(
            F.col("l_shipdate").cast("date"),
            F.pmod(F.col("l_quantity").cast("int"), F.lit(30)),
        ).alias("receipt_date"),
    )
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1992-01-01").cast("date"),
                F.lit("1998-12-01").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("probe_date")
    )
    j = bucketed_interval_join(cal, li, "probe_date", "ship_date", "receipt_date")
    return j.groupBy("probe_date").agg(F.count("*").alias("n_active"))


def _q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window aggregation (F.session_window) — the merge
    operator Structured Streaming uses for stateful session aggs,
    exercised here in batch under the oracle gate. Spark semantics: a
    new session starts when the gap is >= 30 min (the window is
    [ts, ts+gap)); the islands oracle mirrors that with epoch diffs."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def _q_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.weekday("ts").alias("wd"), F.hour("ts").alias("hod")
    ).agg(F.count("*").alias("n"))


def _q_occupancy_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    pings = events_as_pings(spark, sf_dir, N_REGIONS)
    return ops.occupancy(pings, scale=24281400.0 / 3357267.0)


def _q_occupancy_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    pings = events_as_pings(spark, sf_dir, N_REGIONS)
    return ops.occupancy_approx(pings)


# ---- batch 2: text / similarity north star --------------------------------


def _q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ops.minhash_lsh_pairs(docs, k=8, bands=4, n=3)


def _q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.simhash(docs)


def _q_simhash_docs_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manku tf-WEIGHTED SimHash (round 11, VERDICT r10 #6): bit
    tallies are Σ tf·(±1) — every token occurrence votes — vs the
    default distinct-token set-vote `simhash_docs` pins. Same
    two-nibble-lane 64-bit scheme; the twin differs from
    _simhash_oracle only by dropping the DISTINCT before the vote,
    exactly as the engine drops its distinct()
    (operators/dedup.py:simhash weighted=True)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.simhash(docs, weighted=True)


def _q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance near-dup pairs (batch 29, round 9;
    widened to 64 bits in round 10 per VERDICT r9 #1) — the Manku
    block LSH at the classic 3-of-64 budget: candidates from an equi
    self-join on (block, 16-bit block value) — by pigeonhole a
    COMPLETE cover of every pair within Hamming 3 of the 64-bit
    signature, so unlike MinHash banding there is no recall contract
    to carry: zero misses and zero false positives w.r.t. the
    signature, verified by one bit_count(XOR). The oracle mirrors
    signature (two md5 nibble-lanes), blocking (the same
    simhash_banding call generates both sides), and verification
    (DuckDB xor/bit_count), so the cover property itself is
    engine-differentially checked. Resolution note: on this shared
    token distribution the old 32-bit signature concentrated so hard
    that hamming ≤ 3 matched 28% of ALL pairs — a saturation failure
    no in-engine check could catch; at 64 bits the same budget
    matches 4% (sf0.01), and block keys stay ≥ 16 bits at every
    supported budget (h ≤ 3 single-block, h = 4..6 via 2-block
    combinations). Round 15: the scan is fanned out when it is a
    single small file (scale-gated; a no-op at production split
    counts), so the signature pipeline — tokenize, 64 nibble votes,
    the per-doc aggregate — runs on every core instead of one."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.simhash_hamming_pairs(docs, max_hamming=3)


def _q_simhash_hamming_pairs_h6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTI-block combination cover, engine-checked (round 10):
    at budget 6 the 64-bit signature splits into 8 blocks keyed on
    all C(8,2)=28 two-block combinations (16-bit keys — the single
    blocks would be 9 bits, below the floor simhash_banding refuses
    to cross). Pigeonhole still covers exactly: hamming ≤ 6 leaves
    ≥ 2 of 8 blocks intact, so some combination matches. The DuckDB
    twin is generated from the SAME simhash_banding call, so what
    the hash compare pins is the multi-block cover itself — the
    blocking regime h=3 never enters. Wall-clock note: on this
    shared-token-distribution corpus a budget of 6 qualifies 18% of
    ALL pairs at sf0.1 (2.3M rows) — the ~15 s bench wall is the
    OUTPUT contract (every qualifying pair is the answer), not
    candidate waste; the twin's sig CTE is MATERIALIZED so DuckDB
    computes the 64 votes once, not once per union branch. Round 15:
    verify-then-dedup in hamming_pairs_from_blocks (the pair distinct
    now shuffles only within-budget survivors) and the scale-gated
    scan fan-out (see _q_simhash_hamming_pairs)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.simhash_hamming_pairs(docs, max_hamming=6)


def _q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment join (batch 29, round 9): ordered
    (doc_a, doc_b, containment) where |A∩B|/|A| ≥ 4/5 over 3-gram
    shingles — the quote/subset detector a symmetric Jaccard join
    structurally misses (a short doc wholly quoted in a long one has
    J ≈ |A|/|B| but C = 1); the curation use is dropping documents
    subsumed by longer ones. Candidates are prefix-filtered on the
    CONTAINED side only (the containment lemma: any
    ⌊(1−t)·|A|⌋+1-subset of A must hit B — rarity ordering is purely
    pruning, so engine tie-divergence cannot change the answer);
    verification counts |A∩B| exactly with two equi-joins against the
    one persisted augmented index (one corpus scan, no array payloads
    replicated per candidate).
    Threshold rides in integer form; one IEEE division at the edge."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.containment_pairs(docs, n=3, threshold_num=4, threshold_den=5)


def _q_tf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayardo/APSS all-pairs tf-cosine ≥ 0.9 over 3-gram frequencies
    (batch 29, round 9) — weighted sparse-vector similarity, the
    third leg beside Jaccard (sets, multiplicity-blind) and
    embeddings (dense). Membership is decided in EXACT integer
    arithmetic (den²·dot² ≥ num²·Σtf²_a·Σtf²_b); the float appears
    only in the reported cosine (one correctly-rounded sqrt +
    division), so the oracle is a deliberately UNPRUNED brute-force
    twin — an independent derivation that also differentially proves
    the prefix bound dropped nothing. Grams, not unigrams: this
    corpus's ~30-word vocabulary makes unigram APSS inherently
    near-quadratic (measured 37 s at sf0.1 — the dense regime), while
    the 3-gram frequency tail restores the rare-term prefix bite."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.tf_cosine_pairs(docs, threshold_num=9, threshold_den=10, n=3)


def _q_tf_cosine_pairs_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APSS join behind its dense-regime guard (round 11, VERDICT
    r10 #3 — the near_dup_pairs_auto precedent applied to the
    tf-cosine leg): `tf_cosine_pairs_auto` probes the term-frequency
    tail at n=3 with the set-sim router's Σ C(df,2) statistics FIRST
    and only then runs the exact Bayardo join. At the correctness
    scales (sf0.001/sf0.01: 500 docs, rare 3-gram tail) the probe
    verdict is "exact" — pinned in tests/test_plans.py, so a corpus
    regeneration that flips the route fails the pin before the
    oracle row silently changes meaning — and the output is exactly
    `tf_cosine_pairs` at the same integer threshold, so the oracle is
    the same deliberately UNPRUNED brute-force twin. At the sf0.1
    BENCH scale (5 000 docs, past the 4 096-key floor) the n=3 bound
    measures 253 candidate partners/doc — the guard fires — and the
    registered `on_dense="escalate"` walks n up until the rare-term
    tail reappears (n=4 routes exact, pinned): the bench number
    tracks the path a real corpus would take, exactly as
    near_dup_pairs_auto's LSH handoff does, rather than the harness
    crashing on the refusal. On the truly degenerate regime (unigrams
    over this ~30-word vocabulary at ANY n up to max_n) the surface
    still raises with measured stats instead of silently running the
    Ω(U²) plan — pytest-pinned
    (operators/dedup.py:tf_cosine_pairs_auto)."""
    docs = load_table(spark, sf_dir, "documents")
    return ops.tf_cosine_pairs_auto(
        docs, threshold_num=9, threshold_den=10, n=3,
        on_dense="escalate", max_n=5,
    )


def _q_subsumption_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment join's curation ACTION (batch 29, round 9):
    one row per doc with (sz, n_containers, kept) — dropped iff some
    container strictly dominates it in (shingle count, smaller-id)
    order, so every mutually-contained class keeps exactly one
    survivor. Same prefix-filtered candidate machinery as
    containment_pairs; the greedy-chain caveat is documented on the
    operator."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.subsumption_prune(docs, n=3, threshold_num=4, threshold_den=5)


def _q_subsumption_prune_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KERNEL variant (round 10, VERDICT r9 #5): a doc is dropped
    only when a SURVIVING container dominates it — the unique kernel
    of the domination DAG, computed by iterating id-only membership
    over the once-materialized containment edges (rounds = longest
    chain depth). NO ORACLE BY DESIGN: the kernel is defined by
    non-monotone well-founded recursion (kept(d) ⟺ every dominating
    container of d is dropped), which no single SQL statement or
    monotone recursive CTE can express — this is the same
    rows-only class as the sketch queries. Correctness is pinned
    instead by (a) the planted A⊂B⊂C chain pytest (greedy keeps {C},
    fixpoint {A,C}) and (b) measured EQUALITY with the oracle-paired
    greedy query on chain-free corpora — which this synthetic corpus
    is (zero divergence at sf0.001/sf0.01, SCALE.md Round 10); that
    equality is deliberately NOT used as an oracle, because a corpus
    regeneration that introduces a partial chain would make it wrong
    rather than fail it."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.subsumption_prune_fixpoint(
        docs, n=3, threshold_num=4, threshold_den=5
    )


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span extraction (batch 29, round
    9): maximal token spans covered by OVERLAPPING 10-gram
    fingerprints occurring in ≥ 2 distinct documents — the sliding
    window finds duplicated passages at ANY alignment (the form
    `dup_passage_stats`' fixed blocks quantize away) and returns the
    exact 1-based token extents a curation cut would remove. All
    shuffles carry md5 digests / (doc_id, pos) ints, never text; the
    island merge windows over covered positions only
    (output-bounded). Exactly SQL-expressible — the DuckDB twin
    mirrors gram fingerprinting, document-frequency filter, and the
    gaps-and-islands merge, so engine agreement pins every span
    boundary."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.duplicate_spans(docs, window_words=10, min_docs=2)


def _q_span_cleaned_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicated-span CUT applied (batch 29, round 9): one row
    per document with (n_tokens, n_removed, cleaned_md5) where
    cleaned_md5 fingerprints the space-rejoined tokens OUTSIDE every
    `duplicate_spans` extent, in original order — the cleaned-corpus
    manifest a curation pass ships. Hash-matching the md5 against the
    DuckDB twin pins token-level agreement of the whole composition:
    gram fingerprints → df filter → island merge → positional
    anti-join → ordered rebuild."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.span_cleaned_stats(docs, window_words=10, min_docs=2)


def _q_span_cleaned_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned corpus ITSELF (round 10, VERDICT r9 #3): one row
    per document with (n_tokens, n_removed, cleaned_text) — the
    ExactSubstr cut executed and the surviving text returned in
    original token order (empty string for docs cut whole). Writing
    this DataFrame is the curated-corpus write path; the oracle twin
    is span_cleaned_stats' with the string un-hashed, so the VALUE
    compare pins the actual characters, not just their digest."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.span_cleaned_text(docs, window_words=10, min_docs=2)


def _plant_pii(docs: DataFrame) -> DataFrame:
    """Deterministically append synthetic PII tokens to the committed
    corpus (round 11, VERDICT r10 #4): docs with doc_id ≡ 0/1/2
    (mod 7) gain an email / a dashed phone / a 9-digit id, each a pure
    string function of doc_id. The planting is PART OF THE QUERY
    DEFINITION, expressed identically in the DuckDB twin
    (_PLANT_PII_CTE), so the oracle checks the whole pipeline —
    plant → match → redact — and stays non-vacuous on a corpus whose
    organic text contains no PII shapes. /root/testdata is read-only;
    deriving the planted corpus in-plan is the only way to get ground
    truth without synthesizing side files."""
    plant = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 1,
            F.concat(
                F.lit(" call +86-21-555"),
                F.lpad(F.col("doc_id").cast("string"), 4, "0"),
                F.lit(" soon"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 2,
            F.concat(
                F.lit(" ref 9"),
                F.lpad(F.col("doc_id").cast("string"), 8, "0"),
                F.lit(" end"),
            ),
        )
        .otherwise(F.lit(""))
    )
    return docs.withColumn("text", F.concat(F.col("text"), plant))


_PLANT_PII_CTE = """
        planted AS (
          SELECT doc_id,
                 text || CASE CAST(doc_id % 7 AS INTEGER)
                   WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com now'
                   WHEN 1 THEN ' call +86-21-555'
                               || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                               || ' soon'
                   WHEN 2 THEN ' ref 9'
                               || lpad(CAST(doc_id AS VARCHAR), 8, '0')
                               || ' end'
                   ELSE '' END AS text
          FROM documents
        )"""


def _q_pii_pattern_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-driven sensitive-span extraction (round 11, VERDICT r10
    #4): whole-token-anchored email/phone/id regexes over the
    PII-planted corpus, emitted in duplicate_spans' 1-based token-
    extent shape so both span sources feed one curation cut. Map-only
    (posexplode + CASE rlike in codegen, no shuffle, no Python); the
    twin mirrors tokenization, the first-match-wins CASE, and the RE2/
    Java-portable patterns (operators/dedup.py:pattern_spans)."""
    docs = _plant_pii(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    return ops.pattern_spans(docs)


def _q_pii_redacted_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redaction stage executed (round 11): matched tokens replaced
    by <KIND> placeholders, one row per doc with (n_tokens,
    n_redacted, redacted_text) — the VALUE compare pins the masked
    characters themselves. Zero-shuffle: one transform/filter over the
    split array (operators/dedup.py:redacted_text)."""
    docs = _plant_pii(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    return ops.redacted_text(docs)


def _q_pii_cut_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic span cut driven by the pattern source (round 11):
    PII tokens REMOVED (not masked) — `apply_span_cut` over
    `pattern_spans`' extents on the planted corpus, the policy a
    pipeline picks when placeholders themselves are unwanted. Engine-
    checks the un-hard-wired rebuild end to end: any (doc_id,
    span_start, span_end) table cuts
    (operators/dedup.py:apply_span_cut)."""
    docs = _plant_pii(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    return ops.apply_span_cut(docs, ops.pattern_spans(docs))


def _q_redacted_cleaned_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation tail (round 11): ExactSubstr duplicate
    spans REMOVED and surviving PII tokens MASKED in one pass over the
    planted corpus — the write-path DataFrame a curated training
    corpus ships after both cuts. n_redacted counts surviving masked
    tokens only (PII inside a removed span is gone, not masked);
    equality with redacted_text∘span_cleaned_text is pytest-pinned
    (operators/dedup.py:redact_and_clean_text)."""
    docs = _plant_pii(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    return ops.redact_and_clean_text(docs, window_words=10, min_docs=2)


def _plant_urls(docs: DataFrame) -> DataFrame:
    """Deterministically attach a synthetic ABSOLUTE URL to every doc
    (round 12, VERDICT r11 #2 — the documents table carries no URL
    column; /root/testdata is read-only, so ground truth is derived
    in-plan, the _plant_pii pattern): host cycles through five shapes
    exercising every extraction branch — www prefix, multi-part
    ccTLD suffix (.co.uk), an explicit port, a two-level subdomain,
    and an UPPERCASED host (lowercasing) — with ~13 distinct sites per
    shape so per-domain caps and mixes are non-vacuous at sf0.01. The
    planting is PART OF THE QUERY DEFINITION, restated identically in
    the DuckDB twin (_PLANT_URL_CTE)."""
    site = F.concat(F.lit("site"), (F.col("doc_id") % 13).cast("string"))
    v = (F.col("doc_id") % 5).cast("int")
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(
        F.lit("http")
    )
    hostport = (
        F.when(v == 0, F.concat(F.lit("www."), site, F.lit(".com")))
        .when(v == 1, F.concat(F.lit("blog."), site, F.lit(".co.uk")))
        .when(v == 2, F.concat(site, F.lit(".org:8080")))
        .when(v == 3, F.concat(F.lit("cdn.media."), site, F.lit(".net")))
        .otherwise(F.upper(F.concat(site, F.lit(".io"))))
    )
    url = F.concat(
        scheme,
        F.lit("://"),
        hostport,
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    return docs.withColumn("url", url)


_PLANT_URL_CTE = """
        planted_urls AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
                 || '://' ||
                 (CASE CAST(doc_id % 5 AS INTEGER)
                   WHEN 0 THEN 'www.site' || CAST(doc_id % 13 AS VARCHAR)
                               || '.com'
                   WHEN 1 THEN 'blog.site' || CAST(doc_id % 13 AS VARCHAR)
                               || '.co.uk'
                   WHEN 2 THEN 'site' || CAST(doc_id % 13 AS VARCHAR)
                               || '.org:8080'
                   WHEN 3 THEN 'cdn.media.site' || CAST(doc_id % 13 AS VARCHAR)
                               || '.net'
                   ELSE upper('site' || CAST(doc_id % 13 AS VARCHAR) || '.io')
                  END)
                 || '/p/' || CAST(doc_id AS VARCHAR) AS url
          FROM documents
        )"""

# TLD-level mixture recipe for url_suffix_mix_counts: .io is absent →
# default_rate 0.0 drops it, pinning the unknown-domain branch
_URL_MIX_RATES = {"com": 0.9, "co.uk": 0.5, "org": 0.25, "net": 0.1}


def _q_url_domain_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL → host → registered-domain extraction (round 12, VERDICT
    r11 #2): the key derivation every domain-aware curation stage
    (caps, blocklists, domain mixes) hangs off. Host = authority minus
    userinfo/port, lowercased; registered domain = last two labels, or
    three over a known multi-part suffix (functions/urls.py — the
    pluggable Public-Suffix-List subset). Pure map-side expressions in
    the Java∩RE2-portable regex subset; zero exchanges."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        url_host,
        url_registered_domain,
    )

    docs = _plant_urls(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    host = url_host(F.col("url"))
    return docs.select(
        "doc_id",
        "url",
        host.alias("host"),
        url_registered_domain(host).alias("reg_domain"),
    )


def _q_per_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain dedup cap (round 12): at most 5 docs survive per
    registered domain, chosen by md5(doc_id) hash order so the pick is
    deterministic, engine-portable, and uncorrelated with crawl order.
    The row_number()<=cap filter is the WindowGroupLimit shape — Spark
    pre-limits every domain to its top-5 BEFORE the shuffle, so a hot
    domain ships ~cap rows per map task instead of its full page set
    (functions/urls.py:cap_per_domain; plan-pinned)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        cap_per_domain,
        url_host,
        url_registered_domain,
    )

    docs = _plant_urls(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    keyed = docs.select(
        "doc_id",
        url_registered_domain(url_host(F.col("url"))).alias("reg_domain"),
    )
    return cap_per_domain(keyed, "reg_domain", cap=5).select(
        "doc_id", "reg_domain", F.col("rk").cast("int").alias("rk")
    )


def _q_url_suffix_mix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-keyed mixture realization (round 12): the TLD-suffix of
    each doc's registered domain drives the keep rate (com 0.9 /
    co.uk 0.5 / org 0.25 / net 0.1, unknown suffixes → 0.0), decided
    per row by the stable md5 coin — domain_mix_keep re-keyed from
    the free-text source column onto the URL-derived key a real web
    corpus mixes on. One scan + one tiny suffix-keyed aggregate."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        domain_mix_keep,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        url_host,
        url_registered_domain,
        url_suffix,
    )

    docs = _plant_urls(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    suffix = url_suffix(url_registered_domain(url_host(F.col("url"))))
    keep = domain_mix_keep(
        F.col("doc_id"), suffix, _URL_MIX_RATES, salt="urlmix"
    )
    return (
        docs.select(suffix.alias("suffix"), keep.alias("keep"))
        .groupBy("suffix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .withColumn(
            "achieved_rate",
            F.round(F.col("n_kept").cast("double") / F.col("n_docs"), 6),
        )
    )


def _plant_messy_urls(docs: DataFrame) -> DataFrame:
    """Click-tracking crawl variants of shared resources, derived from
    doc_id (round 12): site = doc_id%13, page = doc_id%17, four crawl
    shapes — uppercase host + default port + tracking param + fragment
    + trailing slash (v0), tracking param appended (v1), default https
    port + trailing slash + mixed-case www (v2), already-canonical
    (v3). Canonically v0≡v3 (http) and v1≡v2 (https) at equal
    (site, page), so the canonical-dedup oracle is non-vacuous: many
    doc_ids share one canonical URL. Restated verbatim in
    _PLANT_MESSY_URL_CTE."""
    site = (F.col("doc_id") % 13).cast("string")
    page = (F.col("doc_id") % 17).cast("string")
    v = (F.col("doc_id") % 4).cast("int")
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("HTTP://WWW.SITE"), site,
                F.lit(".COM:80/p/"), page,
                F.lit("/?utm_source=feed&id="), page, F.lit("#top"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("https://www.site"), site,
                F.lit(".com/p/"), page,
                F.lit("?id="), page, F.lit("&utm_campaign=x"),
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://WWW.site"), site,
                F.lit(".com:443/p/"), page,
                F.lit("/?id="), page,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://www.site"), site,
                F.lit(".com/p/"), page,
                F.lit("?id="), page,
            ),
        )
    )
    return docs.withColumn("url", url)


_PLANT_MESSY_URL_CTE = """
        planted_messy AS (
          SELECT doc_id,
                 CASE CAST(doc_id % 4 AS INTEGER)
                   WHEN 0 THEN 'HTTP://WWW.SITE' || CAST(doc_id % 13 AS VARCHAR)
                     || '.COM:80/p/' || CAST(doc_id % 17 AS VARCHAR)
                     || '/?utm_source=feed&id=' || CAST(doc_id % 17 AS VARCHAR)
                     || '#top'
                   WHEN 1 THEN 'https://www.site' || CAST(doc_id % 13 AS VARCHAR)
                     || '.com/p/' || CAST(doc_id % 17 AS VARCHAR)
                     || '?id=' || CAST(doc_id % 17 AS VARCHAR)
                     || '&utm_campaign=x'
                   WHEN 2 THEN 'https://WWW.site' || CAST(doc_id % 13 AS VARCHAR)
                     || '.com:443/p/' || CAST(doc_id % 17 AS VARCHAR)
                     || '/?id=' || CAST(doc_id % 17 AS VARCHAR)
                   ELSE 'http://www.site' || CAST(doc_id % 13 AS VARCHAR)
                     || '.com/p/' || CAST(doc_id % 17 AS VARCHAR)
                     || '?id=' || CAST(doc_id % 17 AS VARCHAR)
                 END AS url
          FROM documents
        )"""


def _q_url_canonicalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (round 12): the normalize-before-dedup
    step — lowercased scheme/host, userinfo and default ports and
    fragments stripped, tracking params dropped and the rest sorted,
    trailing slash normalized (functions/urls.py:url_canonicalize;
    the not-done list is part of the contract). Map-only, zero
    exchanges; the twin restates every step over the same planted
    crawl variants."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        url_canonicalize,
    )

    docs = _plant_messy_urls(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    return docs.select(
        "doc_id", "url", url_canonicalize(F.col("url")).alias("canon_url")
    )


def _q_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup AFTER canonicalization (round 12): the
    crawl variants of one resource merge into one group; keep-min
    doc_id survives with the group size. One narrow
    (canon_url, doc_id) exchange — the dedup key is the canonical
    string, text never shuffles."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        url_canonicalize,
    )

    docs = _plant_messy_urls(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    keyed = docs.select(
        "doc_id", url_canonicalize(F.col("url")).alias("canon_url")
    )
    return (
        keyed.groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
        .select("doc_id", "canon_url", "n_dups")
    )


def _q_per_domain_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered per-domain cap (round 12): keep the BEST 3 docs
    per registered domain by classifier margin (tie: doc_id) — the cap
    policy a production crawl actually wants, composing this round's
    URL keys with its scorer. Same WindowGroupLimit shape as
    per_domain_caps (rank<=cap over kept rows only): a hot domain
    pre-limits map-side regardless of the ordering expression."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        bucket_weights,
        demo_weights,
        doc_features,
        margin_from_weights,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        url_host,
        url_registered_domain,
    )

    docs = _plant_urls(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    base = docs.select(
        "doc_id",
        url_registered_domain(url_host(F.col("url"))).alias("reg_domain"),
        tx.tokens(F.col("text")).alias("toks"),
    )
    staged = base.select(
        "doc_id",
        "reg_domain",
        bucket_weights(
            doc_features(F.col("toks")), demo_weights(64)
        ).alias("wv"),
    )
    scored = staged.select(
        "doc_id", "reg_domain", margin_from_weights(F.col("wv")).alias("margin")
    )
    w = Window.partitionBy("reg_domain").orderBy(
        F.col("margin").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "reg_domain", "margin", "rk")
    )


def _q_domain_blocklist_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist applied (round 12 — the third leg of the
    caps/blocklists/mixes triple): the blocklist is the distinct
    registered domains of every 10th document (derived
    deterministically from the data so both engines see the same dim
    table), and survivors come from a BROADCAST LEFT-ANTI join — the
    shape a multi-million-row production blocklist needs (a dim table,
    never an isin literal). Corpus side: zero shuffles
    (functions/urls.py:apply_domain_blocklist)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        apply_domain_blocklist,
        url_host,
        url_registered_domain,
    )

    docs = _plant_urls(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    keyed = docs.select(
        "doc_id",
        url_registered_domain(url_host(F.col("url"))).alias("reg_domain"),
    )
    blocklist = keyed.filter(F.col("doc_id") % 10 == 0).select(
        "reg_domain"
    )
    return apply_domain_blocklist(keyed, "reg_domain", blocklist)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ops.ngram_jaccard_pairs(docs, n=3, threshold_num=1, threshold_den=2)


def _q_near_dup_pairs_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-routed n-gram near-dup pairs (batch 27): the document-level
    face of the round-7 exact↔LSH handoff. At the CORRECTNESS scales
    (sf0.001/sf0.01: 500 docs < MIN_LSH_KEYS) the router picks the
    EXACT path — pinned in tests/test_plans.py — so the oracle is the
    exact n-gram Jaccard SQL, and a corpus regeneration that flips the
    route fails the pin before it can silently turn the oracle row
    into an approximation. At the sf0.1 BENCH scale the router
    measures 253 candidate partners/doc (> the 64 budget over 5 000
    docs) and hands off to LSH — which is the design, not drift: the
    bench number tracks the path a 100 TB corpus would take
    (operators/dedup.py:near_dup_pairs_auto)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return ops.near_dup_pairs_auto(docs, n=3, threshold_num=1, threshold_den=2)


def _q_near_dup_pairs_t90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCUMENT-level recall-contract near-dup join (batch 29, round 9,
    VERDICT r8 #2): n-gram shingle pairs at Jaccard ≥ 1/2 through
    ``set_similarity_join_lsh`` banded by :func:`choose_lsh_params` —
    the shape `user_covisit_lsh_t90` has — so P(candidate) ≥ 0.9 for
    EVERY doc pair at the threshold: k=54, 18 bands × 3 rows (pinned
    in tests/test_plans.py), vs the midpoint banding's ~0.5 at the
    boundary. The route is LSH at every sf, the way a 100 TB corpus
    would route. Verification stays exact (emitted pairs carry true
    Jaccard; no false positives), so the contract governs only what
    can be MISSED and the floor is the collision probability at the
    threshold (monotone in J above it). The oracle mirrors the full
    contract banding parametrically — 54 min-md5 shingle signatures,
    18 band hashes, the integer size prune, exact shared-shingle
    verification — so the doc-level guarantee's mechanism is
    engine-differentially checked (reference dedup loops:
    cal_user_trace.py's all-pairs comparisons, re-expressed
    sub-quadratically)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        similarity,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        doc_jaccard,
        doc_shingles,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    k, bands = similarity.choose_lsh_params(1, 2, target_recall=0.9)
    sh = doc_shingles(docs, 3).localCheckpoint(eager=True)
    return doc_jaccard(
        similarity.set_similarity_join_lsh(
            sh, "doc_id", "shingle", 1, 2, k=k, bands=bands
        )
    )


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", tx.doc_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_docs"))
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        predict_lang,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    pred = predict_lang_tokens_cached()
    return docs.groupBy(F.col("lang"), pred.alias("pred_lang")).agg(
        F.count("*").alias("n")
    )


def _q_token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    n_tok = tx.token_count(F.col("text"))
    return docs.groupBy("source").agg(
        F.sum(n_tok).alias("total_tokens"),
        (F.sum(n_tok).cast("double") / F.count("*")).alias("avg_tokens"),
        F.count("*").alias("n_docs"),
    )


def _q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
        l2_norm,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id",
        F.round(l2_norm(as_double_array(F.col("embedding"))), 6).alias("norm_r"),
        "label",
    )


def _q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucket LSH top-k with size-adaptive bucket count
    (nbits ≈ log2(N/16), so candidate sets stay ~constant as the corpus
    grows) and Hamming-1 multi-probe for recall. The oracle derives the
    same nbits from count(*), so both sides stay parameterized
    identically at every sf."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ops.bucketed_ann_topk(emb, queries_df, k=3, dim=64, multi_probe=1)


def _dataset_fingerprint(sf_dir: str, table: str) -> tuple:
    """Cheap invalidation key for per-dataset index artifacts (the
    prefix of their keys in the artifact cache, ``cached``): the table
    path plus the sorted (name, mtime_ns, size) of its parquet
    file(s). If the dataset at a path is regenerated in-process (test
    fixtures, re-runs), the fingerprint changes and cached artifacts
    rebuild."""
    import os as _os

    path = _os.path.join(sf_dir, f"{table}.parquet")
    entries = []
    if _os.path.isdir(path):
        for name in sorted(_os.listdir(path)):
            st = _os.stat(_os.path.join(path, name))
            entries.append((name, st.st_mtime_ns, st.st_size))
    elif _os.path.exists(path):
        st = _os.stat(path)
        entries.append((_os.path.basename(path), st.st_mtime_ns, st.st_size))
    return (path, tuple(entries))


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: corpus inverted-listed under 16 deterministic
    coarse centroids (hash-stratified: smallest md5(vec_id) —
    engine-portable where a k-means codebook is not, and uncorrelated
    with ingest order, unlike a lowest-id pick); queries probe their 4
    nearest lists. Assignment is a map-only expression over literal
    centroid vectors (no shuffle to index the corpus); the probe join
    broadcasts the query side. The data-adaptive complement to the
    sign-bucket LSH family (`ann_bucketed`/`ann_banded`)."""
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    # the codebook is an index artifact of the (static) dataset: built
    # once per dataset STATE (parquet fingerprint) and reused across
    # invocations, the way any IVF index is built once and served many
    # times — _coarse_centroids_cached
    cent = _coarse_centroids_cached(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ops.ivf_topk(
        emb, queries_df, k=3, n_centroids=16, nprobe=4, dim=64, centroids=cent
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shape within-cluster embedding dedup (round 11,
    VERDICT r10 #5): the corpus clustered under the SAME 16-centroid
    hash-stratified codebook ivf_topk serves from (cluster id = the
    blocking key — the cosine join is equi on it, never all-pairs),
    then every vector with a smaller-id same-cluster neighbor at
    round-6 cosine ≥ 0.35 dropped, keep-min like exact_dedup. One row
    per vector (vec_id, cluster, kept). 0.35, not the ~0.9 a real
    near-dup text corpus would use: this synthetic table is isotropic
    (within-cluster cosines top out ≈ 0.49 at every sf — measured),
    so the production threshold would gate nothing and the oracle row
    would be vacuously all-kept. The twin recomputes centroid choice,
    assignment tie-breaks, and the pairwise prune in SQL
    (operators/similarity.py:semantic_dedup)."""
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    cent = _coarse_centroids_cached(spark, sf_dir)
    return ops.semantic_dedup(emb, threshold=0.35, dim=64, centroids=cent)


def _q_ivf_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health report (batch 29, round 9, VERDICT r8 #6): the
    documented recenter rule as a queryable single-row artifact —
    (n_vectors, n_lists, max_list_share, mean_assigned_cos, recenter)
    over the same 16-centroid hash-stratified codebook `ivf_topk`
    serves from. The round-8 drift probe showed list BALANCE, not
    recall, is what coherent turnover moves (max share 0.08→0.15 at
    recall 1.00), so the operational monitor is max_list_share vs the
    2×-uniform threshold; the report is exact aggregates, so the
    DuckDB twin checks it value-for-value. One map-side assignment
    over literal centroids + a k_c-bounded aggregate — the corpus
    never shuffles."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_health_report_df,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    cent = _coarse_centroids_cached(spark, sf_dir)
    return ivf_health_report_df(emb, centroids=cent)


def _q_ivf_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with a TRAINED codebook: the 16-way coarse
    quantizer comes from 3 Lloyd rounds (operators/kmeans.py — the
    trainer built for exactly this) instead of the hash-stratified
    sample `ivf_topk` uses. Data-adaptive centroids follow the
    corpus's density, so inverted lists are balanced where the
    sampled codebook inherits sampling variance — measured recall@3
    at sf0.1 is reported in SCALE.md and gated ≥ the sampled-codebook
    recall in tests/test_similarity.py. Same serving plan: literal
    centroids in-plan, map-only assignment, broadcast probe join; the
    training cost is 3 corpus scans, amortized across every query
    against the (static) index, cached per dataset fingerprint like
    any IVF index artifact. Oracle: the unrolled Lloyd CTE chain
    (kmeans_oracle_ctes) feeding the same probe/rank SQL as
    ivf_topk's twin."""
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    cent = _kmeans_centroids_cached(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ops.ivf_topk(
        emb, queries_df, k=3, n_centroids=16, nprobe=4, dim=64, centroids=cent
    )


def _q_semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on the TRAINED codebook (round 11): the same
    within-cluster keep-min prune as `semantic_dedup`, blocked by the
    3-round Lloyd quantizer `ivf_topk_kmeans` serves from (shared
    cache key, so one training run feeds both queries) — the
    quality-over-twin-simplicity variant a production curation run
    uses, still fully engine-checked because the Lloyd rounds unroll
    to deterministic SQL (operators/kmeans.py:kmeans_oracle_ctes).
    Data-adaptive centroids balance list sizes, which for SemDeDup is
    not just recall but COST: the prune is Σ_c C(n_c,2), so the
    max-list share the IVF health report watches is exactly this
    query's skew bound."""
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    cent = _kmeans_centroids_cached(spark, sf_dir)
    return ops.semantic_dedup(emb, threshold=0.35, dim=64, centroids=cent)


def _q_ann_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified LSH top-k: 4 independent sign-hash tables over
    disjoint dimension slices; candidates = bucket match in ANY table.
    Measured recall@3 at sf0.01: 0.60 vs 0.40 for single-table
    Hamming-1 multi-probe (isotropic random corpus — LSH's worst
    case). The oracle mirrors table fan-out, bucket math, and the
    pair-dedupe aggregate."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        banded_ann_topk,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.filter(F.col("vec_id") < 5)
    return banded_ann_topk(emb, queries_df, k=3, n_tables=4, dim=64)


def _q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition/quality signals for corpus
    filtering: duplicate-token ratio, most-frequent-bigram mass, and
    mean token length. Token-table formulation (posexplode + lead) —
    one doc-keyed exchange feeds the window, the bigram count, and the
    token stats; everything stays in whole-stage codegen."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(tx.tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy("doc_id", "tok", "nxt")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_bg"),
            F.sum("c").alias("total_bg"),
        )
    )
    stats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.sum(F.length("tok")).alias("total_len"),
    )
    return (
        stats.join(bg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                1.0 - F.col("n_distinct") / F.col("n_tokens").cast("double"), 6
            ).alias("dup_token_ratio"),
            F.round(
                F.coalesce(
                    F.col("top_bg") / F.col("total_bg").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_bigram_frac"),
            F.round(
                F.col("total_len") / F.col("n_tokens").cast("double"), 6
            ).alias("mean_token_len"),
        )
    )


def _q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: every 2nd complete 64-byte frame of
    each payload, emitted 1→N through Arrow batches (mapInPandas).
    Payloads are ASCII text bytes here, so the DuckDB oracle reproduces
    the windows with substr — digests verify the frames byte-for-byte."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return sample_frames(attach_binary_payload(docs))


def _q_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining ranking-function surface: cume_dist and nth_value
    over per-nation customer balances (rank/ntile/percent_rank already
    covered elsewhere). nth_value uses the full-partition frame so the
    2nd-highest balance is visible from every row."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    n_in_nation = F.count(F.lit(1)).over(
        Window.partitionBy("c_nationkey")
    )
    # cume_dist * n is an exact integer (the cumulative peer count);
    # emitting IT instead of the raw fraction sidesteps the one real
    # cross-engine hazard: fractions like 333/640 land exactly on a
    # .5 decimal boundary at any fixed rounding width, and HALF_UP vs
    # round-on-binary-double then disagree (found by the sf0.1 probe).
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.cume_dist().over(w) * n_in_nation)
        .cast("long")
        .alias("cume_n"),
        n_in_nation.alias("n_in_nation"),
        F.nth_value("c_custkey", 2).over(w_full).alias("second_richest"),
    )


def _q_value_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation/linear
    regression) — one-pass co-moment aggregates not exercised
    elsewhere. Both engines accumulate in doubles with
    order-dependent rounding error, so outputs round to 4 decimals
    (values are O(100): 4 decimals is far above the ~1e-10 relative
    float noise, far below real signal)."""
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.stddev_samp("value"), 4).alias("sd"),
        F.round(F.var_samp("value"), 4).alias("var"),
        F.round(F.corr(F.col("value"), hod), 4).alias("corr_hod"),
        F.round(F.regr_slope(F.col("value"), hod), 4).alias("slope_hod"),
    )


def _q_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT ALL as first-class operators (SURVEY §2.7
    lists them absent from the reference; semi/anti joins covered the
    semantics but not the operators). intersect = distinct users doing
    both; exceptAll = the click multiset minus the purchase multiset
    (dup user_ids survive — multiset semantics under the value hash)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = clicks.intersect(buys).select(
        F.lit("intersect").alias("op"), "user_id"
    )
    diff = clicks.exceptAll(buys).select(
        F.lit("except_all").alias("op"), "user_id"
    )
    return both.unionByName(diff)


def _q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long via the native unpivot/melt operator (absent from the
    reference; the inverse of pivot). Four lineitem measures melt to
    (measure, value) rows, then a decimal-exact per-measure rollup
    keeps the double sums engine-reproducible."""
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return melted.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("val").cast("decimal(18,4)")).cast("double"), 2
        ).alias("total"),
    )


def _q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key: bin synthetic coords to a 256x256 grid,
    bit-interleave to a Morton key (native shiftleft/and/or — the sort
    key lakehouse OPTIMIZE ZORDER clusters by), top-50 cells by count.
    Deterministic limit: (count desc, key asc) is a total order."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.zorder import (
        grid_cell,
        morton_key,
    )

    ev = load_table(spark, sf_dir, "events")
    lat = F.lit(30.6) + F.col("value") / 700.0
    lon = F.lit(120.9) + F.col("value") / 560.0
    zkey = morton_key(
        grid_cell(lon, 120.5, 123.0, 256),
        grid_cell(lat, 30.5, 32.5, 256),
        bits=8,
    )
    return (
        ev.groupBy(zkey.alias("zkey"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("zkey").asc())
        .limit(50)
    )


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact email-shaped strings and
    long digit runs (the patterns are deliberately RE2-and-Java-common
    so both engines compile them identically). The oracle compares the
    md5 of the redacted text — the transformation is verified
    byte-for-byte, not just the counts."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
    digits = r"[0-9][0-9][0-9]+"
    low = F.lower(F.col("text"))
    red = F.regexp_replace(
        F.regexp_replace(low, email, "<EMAIL>"), digits, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(low, F.lit(email)).alias("n_emails"),
        F.regexp_count(low, F.lit(digits)).alias("n_digit_runs"),
        F.md5(red).alias("redacted_digest"),
    )


def _q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (class prototypes — what real IVF
    training averages), long-form (label, pos, m). Delegates to
    operators.similarity.label_centroids with ``ordered=True`` so the
    per-cell sum folds in vec_id order — bit-exact vs the DuckDB twin.
    The operator's DEFAULT is ``ordered=False`` (tree-aggregated
    F.sum, O(1) buffer per cell — the 100 TB path); the ordered fold
    exists only for this engine-differential gate, and a pytest pins
    the two paths to <=1e-9 agreement."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        label_centroids,
    )

    e = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    return label_centroids(e, ordered=True)


def _q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers x date-bracketed
    orders x late-shipping lineitems -> top-10 orders by revenue.
    Customer dim broadcasts; the orders-lineitem fact join shuffles on
    orderkey (AQE re-plans if one side collapses under the filters);
    revenue is DECIMAL-exact then cast, tiebreak on l_orderkey."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("date")
    )
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("o_orderdate"), "o_orderpriority")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).cast(
                    "double"
                ),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer over a
    one-year order window, top-20. Same broadcast/decimal discipline
    as Q3; tiebreak on c_custkey."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    cust = load_table(spark, sf_dir, "customer")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).cast(
                    "double"
                ),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def _q_doc_sample_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample: membership = md5-hash range of
    the doc key, not an RNG — identical output on any engine, any
    partitioning, any retry (df.sample() guarantees none of these).
    Fully oracle-checked, unlike seed-based sampling."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        deterministic_sample,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return deterministic_sample(docs, "doc_id", 0.1).select(
        "doc_id", "source", "lang"
    )


def _q_corpus_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment by hash range (0.9/0.05/0.05): a doc's
    split never changes as the corpus grows or repartitions — the
    reproducibility property random splits lack. Output: per-split
    per-source doc counts."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        split_assign,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    split = split_assign(
        F.col("doc_id"), [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    )
    return docs.groupBy(split.alias("split"), F.col("source")).agg(
        F.count("*").alias("n_docs")
    )


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.multimodal import (
        attach_binary_payload,
        extract_media_meta,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return extract_media_meta(attach_binary_payload(docs))


def _q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (round 3 — the stub is gone): synthesize
    deterministic BMP/PPM/WAV payloads per doc_id (doc_id % 3 picks
    the container; dims/rate/fill are fixed functions of doc_id), land
    them as a binary column, then parse them back with the pure-python
    codecs in operators.multimodal (struct.unpack header walks, RIFF
    chunk scan, stride-aware pixel means). The oracle predicts the
    decoder's REQUIRED output arithmetically from doc_id without
    touching bytes — any encoder bug, mis-read offset, or padding
    mishandling breaks the hash match. Both mapInPandas stages are
    Arrow-batched; no per-row JVM↔Python calls."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.multimodal import (
        decode_media_meta,
        synth_media_payloads,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return decode_media_meta(synth_media_payloads(docs))


def _q_multimodal_decode_png(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPRESSED media decode (round 15, VERDICT r14 #4): synthesize
    one real PNG per doc (zlib-deflated IDAT, CRC-32 on every chunk,
    scanline filters cycling Sub/Up/Average/Paeth), land as a binary
    column, decode with the stdlib-only codec in operators.multimodal
    (chunk walk + CRC verify + inflate + generic unfiltering of all
    five filter types). The oracle predicts width/height/channels and
    the pixel mean arithmetically from doc_id — recoverable from the
    payload only through correct decompression AND unfiltering, so a
    decoder that skips either breaks the hash. Same Arrow-batched
    mapInPandas shape as multimodal_decode."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.multimodal import (
        decode_media_meta,
        synth_png_payloads,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return decode_media_meta(synth_png_payloads(docs))


def _q_multimodal_decode_jpeg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Baseline JPEG decode (round 15, second wave — the last
    "compressed codecs need external libs" gap): synthesize one real
    grayscale JPEG per doc (huffman-coded DC-diff entropy stream with
    byte stuffing, tables declared in DHT, DC quant step 8 for an
    integer-exact constant round trip) and decode it with the
    stdlib+numpy codec in operators.multimodal — segment walk, huffman
    tables BUILT FROM THE STREAM, entropy decode with unstuffing, DC
    prediction, AC run-length/EOB, dequantization, zigzag, and a true
    2-D IDCT. The oracle predicts width/height/channels and the pixel
    mean arithmetically from doc_id; the decoder's AC/IDCT machinery
    is pinned independently by a hand-computed non-constant fixture
    in pytest. Same Arrow-batched mapInPandas shape as the other
    decode queries."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.multimodal import (
        decode_media_meta,
        synth_jpeg_payloads,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return decode_media_meta(synth_jpeg_payloads(docs))


def _q_user_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (combineByKey→collect_list) re-expressed: per-user ordered
    distinct event types, emitted as a join-stable string."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "types_csv"
        ),
        F.count("*").alias("n_events"),
    )


def _q_type_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type occupancy matrix, long form — the cal_subarea_portion
    product (5081×8 hour-keyed matrices, :287-305) with event_type
    standing in for POI type."""
    pings = events_as_pings(spark, sf_dir, N_REGIONS)
    return pings.groupBy("region_id", "event_type", "hour").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def _q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click annotated with the user's latest prior
    (or simultaneous) purchase value."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.asof import (
        asof_join,
    )

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(clicks, buys, "user_id", "ts", "ts", ["value"]).select(
        "event_id", "user_id", "asof_value"
    )


def _q_signup_error_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_signups"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_errors"))
    )
    return (
        s.join(e, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_signups", F.lit(0)).alias("n_signups"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
        )
    )


def _q_top_docs_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        docs.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .select("doc_id", "n_chars", "source")
        .limit(20)
    )


def _q_occupancy_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct via two-phase aggregation — skew-safe at scale:
    phase 1 collapses (region, hour, user) triples with map-side
    combine; phase 2 counts rows. Same semantics as countDistinct, but
    no per-group distinct sets in memory on hot (region, hour) keys."""
    pings = events_as_pings(spark, sf_dir, N_REGIONS)
    return (
        pings.select("region_id", "hour", "user_id")
        .distinct()
        .groupBy("region_id", "hour")
        .agg(F.count("*").alias("n_users"))
    )


def _q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return ev.groupBy("event_type").agg(
        F.round(F.element_at(pct, 1), 6).alias("p50"),
        F.round(F.element_at(pct, 2), 6).alias("p90"),
        F.round(F.element_at(pct, 3), 6).alias("p99"),
    )


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (operators.similarity.
    embedding_near_dup_pairs): sign-bucket blocked, size-adaptive
    nbits, Hamming-1 multi-probe, exact cosine verify. Threshold 0.44
    for the oracle gate: the synthetic corpus is isotropic random
    64-dim (max pairwise cosine ≈ 0.48-0.51 at every sf), so the
    real-corpus 0.9 cut returns the empty set at test scale — which
    would make Spark/DuckDB agreement vacuous. 0.44 forces both
    engines to produce and hash-match non-empty pair sets at sf0.001,
    sf0.01 and sf0.1; a planted-duplicate pytest separately pins
    recall at the 0.9 production cut."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    return embedding_near_dup_pairs(emb, threshold=0.44)


def _q_od_weekly_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIAR simulation's input contract: OD transition fractions on
    a 168-hour weekly cycle (1108Fit_para_multi.py:247-248 consumes
    keys[(k-71)%168]). Recomputed from counts, not averaged fractions,
    so the result is exact."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    edges = ops.gap_fill_edges(pos)
    how = (F.weekday("hour") * 24 + F.hour("hour")).alias("hour_of_week")
    cyc = edges.groupBy(
        how, F.col("pre_region_id").alias("orig"), F.col("region_id").alias("dest")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("hour_of_week", "orig")
    return cyc.withColumn(
        "frac", F.col("cnt").cast("double") / F.sum("cnt").over(w)
    )


def _q_streaming_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming import (
        streaming_occupancy,
    )

    return streaming_occupancy(spark, sf_dir)


def _q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with the customer-and-supplier
    same-nation constraint, revenue per nation in one region."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(region.r_name == "ASIA")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
                .cast("double"),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q_unshipped_orders_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter, revenue per pending order,
    global top-10 with deterministic tiebreak."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,4)")
    cutoff = "1997-01-01"
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy(
            "l_orderkey",
            # order dates are calendar dates; normalize the parquet
            # timestamp to DATE on both engines (oracle: CAST AS DATE)
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
                .cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _q_order_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        orders.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("total"),
        )
    )


def _q_price_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = Window.orderBy(F.col("p_retailprice").asc(), F.col("p_partkey").asc())
    return part.select(
        "p_partkey",
        "p_retailprice",
        F.percent_rank().over(w).alias("pr"),
    )


def _q_like_filter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%gear%"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


def _q_monthly_order_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("total"),
        )
    )


def _q_above_nation_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate shape: customers above their nation's mean
    balance (decorrelated into an explicit avg join)."""
    cust = load_table(spark, sf_dir, "customer")
    # exact-decimal comparison (bal > sum/n  ⇔  bal*n > sum) so a
    # balance exactly equal to the mean can't flip on float noise
    stats = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.sum(_dec("c_acctbal")).alias("total"), F.count("*").alias("n")
    )
    return (
        cust.join(F.broadcast(stats), cust.c_nationkey == F.col("nk"))
        .filter(_dec("c_acctbal") * F.col("n") > F.col("total"))
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_above"))
    )


def _q_rolling_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per-customer rolling 7-day order revenue — the
    explicit frame-spec capability the reference never uses (SURVEY
    §2.5 note)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-6 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(_dec("o_totalprice")).over(w).cast("double"), 2).alias("rolling_7d"),
    )


def _q_grouping_sets_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


def _q_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash spatial binning (D1) on synthetic coords — JVM-native
    bit-interleave encode (no Python, whole-stage codegen); the DuckDB
    twin is generated from the same loop (functions.geohash.geohash_sql)
    so the two cannot drift. Unit tests additionally pin published
    geohash vectors and agreement with the Arrow bisection encoder."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.geohash import (
        geohash_encode_native,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        (F.lit(30.6) + F.col("value") / 700.0).alias("lat"),
        (F.lit(120.9) + F.col("value") / 560.0).alias("lon"),
    )
    return (
        pts.withColumn("cell", geohash_encode_native(F.col("lat"), F.col("lon"), 5))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )


def _geohash_cells_sql() -> str:
    """DuckDB twin of _q_geohash_cells — generated from the same bit
    loop as the Spark expression (identical double-rounding order)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.geohash import (
        geohash_sql,
    )

    return geohash_sql('(30.6 + ("value" / 700.0))', '(120.9 + ("value" / 560.0))', 5)


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric binning: fixed-width value histogram per event type."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.col("value") / 50.0) * 50).cast("long")
    return ev.groupBy("event_type", bucket.alias("bucket_lo")).agg(
        F.count("*").alias("n")
    )


def _q_hourly_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report window: each event type's share of its hour."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("hour")
    return hourly.withColumn(
        "share", F.col("n").cast("double") / F.sum("n").over(w)
    )


def _q_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash document fingerprint (north star:
    'document fingerprinting (rolling hash)')."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", tx.rolling_hash(F.col("text")).alias("rh"))
        .groupBy("rh")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_docs"))
    )


def _q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways (north star): whitespace tokens and a
    BPE-ish regex segmentation (letter runs / digit runs / symbol runs
    as separate tokens)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    bpe_pat = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("ws_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(bpe_pat)).alias(
            "bpe_tokens"
        ),
    )


def _q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of MinHash near-dup pairs → cluster ids
    (iterative min-label propagation; oracle = recursive CTE). Round 7:
    exact-digest pre-collapse (near_dup_components) — identical texts
    collapse to one representative before signatures/banding, so an
    exact-dup group of g docs costs Θ(g) instead of the Θ(g²) band
    self-join rows the 64× probe measured; result is pinned identical
    to the uncollapsed composition."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        near_dup_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    return near_dup_components(docs, k=8, bands=4, n=3).select(
        "doc_id", F.col("component").alias("cluster_id")
    )


def _survivor_table(docs, comp):
    """Keep-longest survivorship shared by dedup_survivors and
    deduped_corpus_stats (one policy definition — the oracles mirror
    it too): label every doc with its cluster (singletons survive as
    their own), then one map-combinable max over the
    (n_chars, −doc_id) struct per cluster. Returns
    (cluster_id, n_members, top{nc, nd})."""
    lab = (
        docs.select("doc_id", F.col("n_chars").cast("long").alias("nc"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "nc",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
    return lab.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(F.col("nc").alias("nc"), (-F.col("doc_id")).alias("nd"))
        ).alias("top"),
    )


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivorship (batch 26) — the step that turns cluster
    ids into an actual deduplicated corpus: one survivor per cluster
    under the keep-longest policy (ties → smallest doc_id), singleton
    docs surviving as their own cluster. Composes minhash LSH pairs →
    pointer-jump CC → one left join + one cluster-keyed aggregate; the
    survivor pick is a max over the (n_chars, −doc_id) struct, so the
    whole policy is map-combinable — no window over the corpus.
    Round 7: the CC stage rides near_dup_components' exact-digest
    pre-collapse (components.py) — identical result, Θ(g) not Θ(g²)
    on exact-dup groups."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        near_dup_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = near_dup_components(docs, k=8, bands=4, n=3)
    agg = _survivor_table(docs, comp)
    return agg.select(
        "cluster_id",
        "n_members",
        (-F.col("top.nd")).alias("survivor_doc_id"),
        F.col("top.nc").alias("survivor_chars"),
        (F.col("n_members") - 1).alias("n_dropped"),
    )


def _q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution (batch 26): how much of the
    corpus sits in how-big duplicate groups — the curation dashboard
    number that decides whether exact dedup alone would have sufficed.
    Clusters of size ≥2 only (singletons are the non-duplicated
    corpus)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        near_dup_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = near_dup_components(docs, k=8, bands=4, n=3)
    sizes = comp.groupBy("component").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(F.count("*").alias("n_clusters"))


def _q_deduped_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline as ONE registered plan (batch 27,
    VERDICT r6 #6): LSH candidate pairs → pointer-jump CC →
    keep-longest survivor per cluster → the SURVIVING corpus joined
    back and profiled per language (doc/token/char/source counts) —
    the table a training run actually consumes, exercising the
    survivorship join at full plan depth instead of stopping at the
    survivor id table (`dedup_survivors`). All stages shuffle digests
    and ids only until the final join pulls the surviving rows; the
    survivor pick stays the map-combinable max-over-struct (no
    corpus-wide window). Oracle: the survivors recursive CTE feeding
    a join + group-by over `documents`.
    Cf. reference corpus-curation flow (SURVEY.md §2 dedup family)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        near_dup_components,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = near_dup_components(docs, k=8, bands=4, n=3)
    surv = _survivor_table(docs, comp).select(
        (-F.col("top.nd")).alias("doc_id")
    )
    surviving = docs.join(surv, "doc_id")
    return surviving.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(tx.token_count(F.col("text")).cast("long")).alias("n_tokens"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


def _q_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword scoring: top-10 documents for a fixed query term
    set, scored sum(tf * ln(N/df)) with deterministic math order."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    terms = ["merge", "spark", "window"]  # fixed (sorted) fold order
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok").isin(*terms))
    n_docs = docs.agg(F.count("*").alias("n"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    w = F.col("tf").cast("double") * F.log(
        F.col("n").cast("double") / F.col("df").cast("double")
    )
    # per-term weights pivoted to columns, added in a FIXED order — a
    # plain sum(w) would fold in partition order and drift cross-engine
    per_term = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("tok") == t, w)).alias(f"w_{t}")
                for t in terms
            ]
        )
    )
    score = None
    for t in terms:
        c = F.coalesce(F.col(f"w_{t}"), F.lit(0.0))
        score = c if score is None else score + c
    scored = per_term.select("doc_id", F.round(score, 6).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(10)


def _q_stay_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands stay segmentation over hourly positions."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.stays import (
        stay_segments,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    return stay_segments(pos)


def _q_dwell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.stays import (
        dwell_stats,
        stay_segments,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    return dwell_stats(stay_segments(pos))


def _q_occupancy_fine_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy at the reference's coarse-grain cardinality (356
    regions, cal_mobility_matrix.py:162) — same plan as the 20-region
    flagship, ~18× the group count."""
    ev = load_table(spark, sf_dir, "events")
    region = (
        F.pmod(F.round(F.col("value") * 100, 0).cast("long"), F.lit(356)) + 1
    ).cast("int")
    return ev.groupBy(
        region.alias("region_id"), F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.countDistinct("user_id").alias("n_users"))


def _q_next_event_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead() (W4): per-event seconds until the user's next event,
    averaged per event type."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
    with_gap = ev.withColumn("gap_s", gap).filter(F.col("gap_s").isNotNull())
    return with_gap.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum("gap_s").cast("double") / F.count("*")).alias("avg_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


def _q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch) — the 100 TB path beside
    the exact interpolated `value_percentiles`; sketch internals are
    engine-specific, so the driver records the rows-only check."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile_approx(
        "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10_000
    )
    return ev.groupBy("event_type").agg(
        F.element_at(pct, 1).alias("p50_approx"),
        F.element_at(pct, 2).alias("p90_approx"),
        F.element_at(pct, 3).alias("p99_approx"),
    )


def _q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate the fact, filter on the aggregate,
    join the (now tiny) key set back to the dimensions. At scale the
    HAVING filter collapses the join input from |orders| to a handful
    of keys, so AQE converts the join-back to a broadcast at runtime —
    the shape the reference never needed but any reporting layer does."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(_dec("l_quantity")).cast("double"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


def _q_first_last_region_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value with an explicit full-partition frame
    (SURVEY §2.5 notes the reference only ever uses default frames; W5
    calls for the explicit unbounded..unbounded formulation). One row
    per (user, day) with the day's entry and exit region."""
    pings = events_as_pings(spark, sf_dir, N_REGIONS)
    w = (
        Window.partitionBy("user_id", F.to_date("ts"))
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        pings.select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.first("region_id").over(w).alias("first_region"),
            F.last("region_id").over(w).alias("last_region"),
        )
        .distinct()
        .withColumn("moved", F.col("first_region") != F.col("last_region"))
    )


def _q_dense_hourly_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: zero-fill the occupancy series so every
    (region, hour) cell exists — sequence(min,max,1h) + explode for the
    hour spine, crossJoin a broadcast region spine, left join, coalesce
    0. The spine is O(regions x hours) regardless of fact size, so the
    plan stays scan + 1 agg shuffle + broadcast joins at any SF."""
    pings = events_as_pings(spark, sf_dir, N_REGIONS)
    occ = ops.occupancy(pings)
    span = pings.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    hours = span.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    regions = spark.range(1, N_REGIONS + 1).select(
        F.col("id").cast("int").alias("region_id")
    )
    return (
        hours.crossJoin(F.broadcast(regions))
        .join(occ, ["region_id", "hour"], "left")
        .select(
            "region_id",
            "hour",
            F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
        )
    )


def _q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) time window — 2 h duration, 1 h slide — via
    F.window, the one window shape the tumbling date_trunc queries
    don't cover. Each event lands in exactly duration/slide = 2
    windows; the explode happens map-side before the count shuffle, so
    shuffle volume is 2x a tumbling count, never quadratic."""
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
        )
    )


def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-training-data curation pipeline in one query:
    language-ID filter (en) -> quality-score floor -> minimum length ->
    exact dedup keeping the lowest doc_id per content digest. Single
    scan of documents; the dedup groupBy keys on a 128-bit digest, so
    the shuffle carries (digest, doc_id) pairs, not text."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        predict_lang,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        "text",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.quality_score(F.col("text")).alias("quality"),
        predict_lang_tokens_cached().alias("pred_lang"),
    )
    kept = scored.filter(
        (F.col("pred_lang") == "en")
        & (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 5)
    ).select(F.md5("text").alias("digest"), "doc_id", "n_tokens", "quality")
    # keep-min-per-digest as a window over the projected (text-free)
    # rows: one documents scan, one exchange keyed on digest, and the
    # shuffle carries 4 narrow columns — vs groupBy+join-back, which
    # re-scans and re-scores the corpus for the join side.
    min_id = F.min("doc_id").over(Window.partitionBy("digest"))
    return (
        kept.withColumn("min_id", min_id)
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id", "digest", "n_tokens", "quality")
    )


def _q_linear_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring (round 12, VERDICT r11 #3):
    the fastText-shape stage after heuristic floors — hashed
    unigram+bigram features scored against a literal weight vector,
    margin = mean bucket weight + bias, keep = margin >= 0. Map-only
    (one codegen fold per doc, weights in-plan, zero exchanges before
    the sink); the md5 bucket hash, 0.0-seeded document-order fold and
    floor-form rounding make the DuckDB twin bit-exact
    (functions/scorer.py)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        bucket_weights,
        demo_weights,
        doc_features,
        margin_from_weights,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    # staged pipeline: tokens -> features -> bucket weights -> margin.
    # Each expensive array expression is its own column so HOF lambdas
    # only ever reference attributes (an inline tokenizer would re-run
    # per element inside the bigram/fold lambdas — measured 12.2 s vs
    # 2.3 s at sf0.1) and so the keep predicate duplicates only the
    # cheap sum fold
    toks = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    feats = toks.select(
        "doc_id", doc_features(F.col("toks")).alias("feats")
    )
    staged = feats.select(
        "doc_id",
        F.size(F.col("feats")).cast("int").alias("n_feats"),
        bucket_weights(F.col("feats"), demo_weights(64)).alias("wv"),
    )
    margin = margin_from_weights(F.col("wv"))
    return staged.select(
        "doc_id",
        "n_feats",
        margin.alias("margin"),
        (margin >= 0.0).alias("keep"),
    )


def _q_curation_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curation with the linear scorer composed in as an
    additional floor (round 12): language-ID -> heuristic quality ->
    length -> CLASSIFIER MARGIN >= 0 -> exact dedup keep-min. Still a
    single documents scan plus the one digest-keyed exchange — the
    margin is another map-side column on the same projection, which
    is the whole point of the fastText shape at 100 TB."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        predict_lang,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        bucket_weights,
        demo_weights,
        doc_features,
        margin_from_weights,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    # token array staged once (HOF-lambda re-evaluation, see
    # _q_linear_quality_scores); the md5 bucket transform staged as
    # its own column so the pushed-down margin predicate duplicates
    # only the cheap sum fold
    base = docs.select(
        "doc_id", "text", tx.tokens(F.col("text")).alias("toks")
    )
    staged = base.select(
        "doc_id",
        "text",
        "toks",
        bucket_weights(
            doc_features(F.col("toks")), demo_weights(64)
        ).alias("wv"),
    )
    scored = staged.select(
        "doc_id",
        "text",
        "wv",
        F.size(F.col("toks")).cast("int").alias("n_tokens"),
        tx.quality_score(F.col("text")).alias("quality"),
        cached(
            ("entry", "pred_lang_toks"),
            lambda: predict_lang(F.col("toks")),
        ).alias("pred_lang"),
    )
    # cheap floors first (they inline into the scan filter, as in
    # corpus_curation); the margin becomes a materialized column on
    # the survivors and its floor rides ABOVE the digest window —
    # provably the same output (same digest ⟹ same text ⟹ same
    # margin, so a margin-failing group vanishes whole either way)
    # while the filter can only reference the margin ATTRIBUTE: the
    # window is a pushdown barrier for non-partition-key predicates,
    # so the classifier chain is evaluated exactly once per surviving
    # row instead of being re-inlined into a scan-level predicate
    # (measured 22.7 s -> 2.0 s at sf0.1)
    kept = scored.filter(
        (F.col("pred_lang") == "en")
        & (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 5)
    ).select(
        F.md5("text").alias("digest"),
        "doc_id",
        "n_tokens",
        "quality",
        margin_from_weights(F.col("wv")).alias("margin"),
    )
    min_id = F.min("doc_id").over(Window.partitionBy("digest"))
    return (
        kept.withColumn("min_id", min_id)
        .filter(
            (F.col("doc_id") == F.col("min_id")) & (F.col("margin") >= 0.0)
        )
        .select("doc_id", "digest", "n_tokens", "quality", "margin")
    )


def _q_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 50th doc_id plays the held-out
    benchmark; each remaining document reports how many of its distinct
    8-word-grams appear in any benchmark doc, and is flagged when the
    overlap reaches 10%. Benchmark gram set broadcasts (tiny vs the
    corpus); the corpus side never shuffles for the join."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.decontam import (
        decontaminate,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    out = decontaminate(docs, F.pmod(F.col("doc_id"), F.lit(50)) == 0, n=8)
    return out.select("doc_id", "n_grams", "n_hit", "hit_frac", "contaminated")


# Domain-mixture recipe shared by the Spark query and its SQL twin so
# the two can never drift: src0..src19 downsampled to 0.2..1.0.
_MIX_RATES = {f"src{i}": ((i % 5) + 1) / 5 for i in range(20)}


def _q_dup_passage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage removal signal: fraction of each document's
    non-overlapping 10-word blocks that occur in >= 2 distinct docs
    (RefinedWeb-style line dedup, adapted to unpunctuated text). All
    shuffles carry md5 block digests, never text."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        duplicated_block_stats,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return duplicated_block_stats(docs, block_words=10)


def _q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local sequence packing: hash-shard the corpus, prefix-sum
    token counts inside each shard (parallel windows — no global
    orderBy), bin = floor(tokens_before / 512). Output is the per-bin
    fill report a packing pass is judged by."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.packing import (
        pack_sequences,
        pack_stats,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    with_tok = docs.select(
        "doc_id", tx.token_count(F.col("text")).alias("n_tokens")
    )
    return pack_stats(pack_sequences(with_tok, budget=512, shards=32))


def _q_domain_mix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture realization: downsample each source to its target
    rate with the stable hash coin, report kept/total/achieved-rate per
    source. One scan, one agg exchange; the keep decision is a pure
    Column predicate evaluated map-side."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        domain_mix_keep,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    keep = domain_mix_keep(F.col("doc_id"), F.col("source"), _MIX_RATES)
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        )
        .withColumn(
            "achieved_rate",
            F.round(F.col("n_kept").cast("double") / F.col("n_docs"), 6),
        )
    )


def _q_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-free JSON -> MapType -> explode: parse props into
    map<string,bigint> and aggregate per key, without declaring the key
    set anywhere. The from_json + explode runs map-side (generator in
    the scan stage); only (key, partial-sum) pairs shuffle."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        ev.select(F.explode(m).alias("key", "value"))
        .groupBy("key")
        .agg(F.sum("value").alias("v_sum"), F.count("*").alias("n"))
    )


def _q_click_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (sequence analytics): per day, the fraction of
    'click' events followed by the same user's 'purchase' within 1 h.
    One per-user window (running min over descending time) — no
    self-join, no theta predicate; exactly one shuffle on user_id."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.funnel import (
        conversion_funnel,
    )

    ev = load_table(spark, sf_dir, "events")
    return conversion_funnel(ev, "click", "purchase", horizon_s=3600)


def _q_rare_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative rarity profile per document: distinct-token
    count, hapax count (tokens in exactly one document), rare-token
    count (tokens in <10% of documents — integer cross-multiply, no
    float threshold), and mean document frequency. The rare-token
    ratio is a standard pretraining quality signal (OOV-ish text
    scores high). The relative leg is the non-vacuous one on the
    synthetic corpus (31 shared tokens, min df = 5% of docs ⇒ hapax
    never fires there — planted-fixture pytest covers it instead), and
    prevalence-relative is the scale-invariant definition anyway.

    Two aggregations on the (doc, token) type table: df per token
    (map-side combinable), then a token-keyed join back — the TF-IDF
    shuffle shape. At 100 TB the df table is vocabulary-sized (Zipf:
    ≪ corpus), so AQE picks a broadcast for the join-back; the doc
    count rides a 1-row crossJoin; integer sums + one final division
    keep the oracle exact."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    n_docs = docs.agg(F.count("*").alias("__nd"))
    types = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tx.tokens(F.col("text")))).alias("tok"),
    )
    df_tab = types.groupBy("tok").agg(F.count("*").alias("df"))
    return (
        types.join(df_tab, "tok")
        .crossJoin(n_docs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_types"),
            F.sum((F.col("df") == 1).cast("int")).alias("n_hapax"),
            F.sum(
                (F.col("df") * F.lit(10) < F.col("__nd")).cast("int")
            ).alias("n_rare"),
            (F.sum("df").cast("double") / F.count("*")).alias("mean_df"),
        )
    )


def _q_salted_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a deliberately skewed key (~75%
    of rows collapse to key 0 — the sentinel-region shape from the
    reference, cal_orig_area.py:88-90). salted_count spreads the hot
    key over 16 sub-reducers before the final collapse; results are
    identical to a plain groupBy count, which is exactly what the
    oracle runs."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.skew import (
        salted_count,
    )

    ev = load_table(spark, sf_dir, "events")
    region = F.pmod(F.floor("value").cast("long"), F.lit(N_REGIONS))
    hot = F.when(region < 15, F.lit(0)).otherwise(region.cast("int"))
    keyed = ev.select(hot.alias("hot_key"), "user_id")
    return salted_count(keyed, ["hot_key"], "user_id", 16)


def _q_region_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region triangle participation in the (undirected) OD graph
    — degree-ordered orientation bounds the wedge join at |E|^1.5
    (operators/triangles.py), the scale-correct algorithm on power-law
    graphs. Fully oracle-paired: integer degrees + a total (degree,
    node) order make the orientation deterministic on both engines."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.triangles import (
        triangle_counts,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    return triangle_counts(
        od.select(F.col("orig").alias("src"), F.col("dest").alias("dst"))
    )


def _q_quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k over symmetric int8-quantized codes — the 4×
    memory-bandwidth representation real ANN serving uses at 100 TB
    (the per-vector scales cancel in cosine, so the similarity needs
    only the integer codes: exact int dot/norms, one sqrt+division).
    Integer ties are common by construction; vec_id breaks them.
    Recall vs the float path is pinned in tests/test_similarity.py."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
        int8_cosine,
        int8_quantize,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        int8_quantize(as_double_array(F.col("embedding"))).alias("q8"),
    )
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("q8").alias("q8_q")
    )
    pairs = emb.crossJoin(F.broadcast(queries_df)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("vec_id").asc()
    )
    return (
        pairs.select(
            "query_id",
            "vec_id",
            F.round(int8_cosine(F.col("q8_q"), F.col("q8")), 6).alias("cos_r"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


def _coarse_centroids_cached(spark: SparkSession, sf_dir: str):
    """The 16 md5-stratified coarse centroids shared by the IVF/SemDeDup
    query family — built once per dataset STATE (parquet fingerprint)
    and reused, the way any IVF index artifact is built once and served
    many times (round-12 review: this block existed in four inlined
    copies that could drift)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_centroid_rows,
    )

    return cached(
        _dataset_fingerprint(sf_dir, "embeddings") + ("ivf16",),
        lambda: ivf_centroid_rows(
            fan_out_small_scan(load_table(spark, sf_dir, "embeddings")), 16
        ),
    )


def _charlm_cached(spark: SparkSession, sf_dir: str):
    """The char-trigram LM table (functions/charlm.py) trained on the
    UNPLANTED documents table — one table shared by charlm_quality,
    curation_full and curation_full_web (whose URL-planted docs are
    scored against the same corpus model)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.charlm import (
        char_trigram_lm,
    )

    return cached(
        _dataset_fingerprint(sf_dir, "documents") + ("charlm3",),
        lambda: char_trigram_lm(
            fan_out_small_scan(load_table(spark, sf_dir, "documents"))
        ),
    )


def _kmeans_centroids_cached(spark: SparkSession, sf_dir: str):
    """The trained (3-round Lloyd) 16-way codebook shared by
    ivf_topk_kmeans and semantic_dedup_kmeans — one training run feeds
    both (shared cache key)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_fit,
    )

    def _build():
        vec = fan_out_small_scan(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", as_double_array(F.col("embedding")).alias("vec")
        )
        cents, _ = kmeans_fit(vec, k=16, iterations=3)
        return sorted((int(c), list(v)) for c, v in cents.items())

    return cached(
        _dataset_fingerprint(sf_dir, "embeddings") + ("kmeans16x3",), _build
    )


def _pq_codebooks_cached(spark: SparkSession, sf_dir: str):
    """Per-subspace PQ codebooks (m=8, ksub=16 over dim 64) from the
    md5-stratified sample — an index artifact of the (static) dataset,
    cached per parquet fingerprint like the IVF codebook."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        pq_codebooks,
    )

    return cached(
        _dataset_fingerprint(sf_dir, "embeddings") + ("pq8x16",),
        lambda: pq_codebooks(
            fan_out_small_scan(load_table(spark, sf_dir, "embeddings")),
            m=8,
            ksub=16,
            dim=64,
        ),
    )


def _q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ADC top-k (round 12, VERDICT r11 #1): each
    corpus vector reduced to 8 codes (16-entry per-subspace codebooks
    from the md5-stratified sample), scored against the broadcast
    query lookup tables — m lookups+adds per candidate instead of a
    64-wide float walk, over an index of ~(m+8) bytes/vector instead
    of dim·4 (the ~dim·4/m contraction, measured in SCALE.md). Raw
    ADC rank quality is corpus-dependent (weak on this isotropic
    table — see pq_topk_refined for the production serving shape);
    the oracle reproduces encode → LUT → fold bit-for-bit
    (operators/pq.py)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        pq_topk,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    cbs = _pq_codebooks_cached(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return pq_topk(emb, queries_df, k=3, codebooks=cbs)


def _q_pq_topk_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving with the refine stage (round 12): ADC shortlist
    (top-16 per query from codes alone) → exact rerank of ONLY those
    16·n_queries rows (point-lookup join for their float vectors) →
    top-3. Recall@3 vs brute force measured 1.00 on the
    perturbed-replica corpus at R=16 (raw ADC: 0.27) — ADC filters,
    floats rank. The corpus-wide scan stays codes-only
    (operators/pq.py:pq_refine)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        pq_refine,
        pq_topk,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    cbs = _pq_codebooks_cached(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    short = pq_topk(emb, queries_df, k=16, codebooks=cbs)
    return pq_refine(emb, short, queries_df, k=3, dim=64)


def _q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (round 12, VERDICT r11 #1 headline): the inverted-file
    coarse quantizer (same 16 hash-stratified centroids ivf_topk
    serves from — shared cache key) prunes WHICH lists are scored;
    PQ codes make each scored candidate m lookups over an m-byte row.
    No residual encoding (codes quantize raw vectors), keeping index
    maintenance Θ(delta) and the twin one CTE chain — documented
    trade in operators/pq.py. Serving index: (vec_id, centroid_id,
    codes, anorm)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        ivf_pq_topk,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    coarse = _coarse_centroids_cached(spark, sf_dir)
    cbs = _pq_codebooks_cached(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ivf_pq_topk(
        emb, queries_df, k=3, nprobe=4, codebooks=cbs, coarse=coarse, dim=64
    )


# The PSL slice the psl_registered_domains query serves under — exact,
# wildcard and exception rules; the oracle twin is generated from this
# SAME list (parsed by the same rules), so the two engines can never
# disagree about which suffixes exist.
_PSL_RULES = (
    "com",
    "org",
    "uk",
    "co.uk",
    "cn",
    "gov.cn",
    "jp",
    "br",
    "*.nom.br",
    "*.kawasaki.jp",
    "!city.kawasaki.jp",
)


def _plant_psl_hosts(docs: DataFrame) -> DataFrame:
    """Hosts exercising every PSL rule class, derived from doc_id
    (site = doc_id%13, v = doc_id%7): plain gTLD (v0, v5), in-subset
    multi-part (v1 — both paths agree), NON-subset multi-part (v2 —
    the literal path collapses every .gov.cn site into one bucket),
    wildcard rule (v3 — *.nom.br makes site{m}.nom.br itself the
    public suffix), wildcard+exception pair (v4 — !city.kawasaki.jp
    is registrable under *.kawasaki.jp), and a public-suffix-only
    host (v6 — co.uk has NO registrable part: NULL). Restated in the
    twin's hosts CTE."""
    site = F.concat(F.lit("site"), (F.col("doc_id") % 13).cast("string"))
    v = (F.col("doc_id") % 7).cast("int")
    host = (
        F.when(v == 0, F.concat(F.lit("www."), site, F.lit(".com")))
        .when(v == 1, F.concat(F.lit("deep.blog."), site, F.lit(".co.uk")))
        .when(v == 2, F.concat(site, F.lit(".gov.cn")))
        .when(v == 3, F.concat(F.lit("a."), site, F.lit(".nom.br")))
        .when(v == 4, F.lit("x.city.kawasaki.jp"))
        .when(v == 5, F.concat(F.lit("cdn."), site, F.lit(".org")))
        .otherwise(F.lit("co.uk"))
    )
    return docs.select("doc_id", host.alias("host"))


def _q_psl_registered_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain extraction against the FULL Public-Suffix-List
    algorithm as a broadcast dim (round 13, VERDICT r12 #4): distinct
    hosts explode into trailing label-suffix candidates, equi-join the
    broadcast rules (exact/exception on the candidate, wildcard on its
    tail), the prevailing rule is exception-first-then-longest, and
    the mapping joins back — the corpus side never explodes
    (functions/urls.py:psl_host_mapping). Output carries BOTH paths'
    answers so the divergence rows are the result: the literal-subset
    path mis-groups .gov.cn / *.nom.br / kawasaki.jp hosts where the
    dim path keys them registrably."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        psl_rules_dim,
        url_registered_domain,
        url_registered_domain_psl,
    )

    docs = _plant_psl_hosts(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    rules = psl_rules_dim(spark, _PSL_RULES)
    out = url_registered_domain_psl(docs, rules, out_col="reg_psl")
    return out.select(
        "doc_id",
        "host",
        "reg_psl",
        url_registered_domain(F.col("host")).alias("reg_subset"),
    )


def _q_pq_codes_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width PQ encode (round 13, VERDICT r12 #2): the
    one-byte-code index build (m=8, ksub=256) through the Arrow-batched
    numpy kernel — the native Catalyst argmin tree is O(ksub)
    expression nodes and measured ~123 ms/row at this width vs the
    kernel's ~0.2 ms/row (SCALE_PROBE_r13 pq_encode family), three
    orders of interpretation overhead on 16k FLOPs. The kernel keeps
    every fold an explicit ascending-index float64 accumulate, so it is
    BIT-EXACT with the native expression (pinned in
    tests/test_similarity.py) and this query stays under the full
    value-hash gate (operators/pq.py:pq_encode_arrow)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        pq_codebooks,
        pq_encode_arrow,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    cbs = cached(
        _dataset_fingerprint(sf_dir, "embeddings") + ("pq8x256",),
        lambda: pq_codebooks(emb, m=8, ksub=256, dim=64),
    )
    return pq_encode_arrow(emb, cbs).select(
        "vec_id",
        F.array_join("codes", ",").alias("codes_s"),
        "anorm",
    )


def _q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-13 composed curation pipeline — every per-doc gate in
    ONE scan: language-ID (en) → quality floor → token floor →
    Gopher repetition pass (0.12/0.05/0.02) → charlm mean-probability
    floor (0.62, corpus-trained table) → exact dedup keeping the
    lowest doc_id per digest. The cheap gates are map-side
    expressions (langid packed lanes, run-length folds) and run
    FIRST; the LM gate is the bit-exact Arrow kernel applied only to
    their survivors as a fused map stage (round 14, VERDICT r13 #1 —
    the interpreted HOF fold priced ~7 ms/doc over the WHOLE corpus;
    the kernel scores survivors at ~0.4 ms/doc with no join back,
    still one streamed scan). The single exchange remains the
    digest-keyed dedup window carrying 6 narrow columns — at 100 TB
    the whole quality stack rides the scan and only survivors'
    digests shuffle. Values are unchanged: the gates are independent
    per-doc predicates (AND reorders freely) and the kernel is
    bit-exact with charlm_score_expr (pinned in pytest), so the
    oracle hash is identical."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.charlm import (
        charlm_attach_arrow,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        predict_lang,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.text import (
        repetition_stats,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    table = _charlm_cached(spark, sf_dir)
    # Pushdown fences (round 16, the curation_multiscript lesson
    # applied to THIS pipeline — measured: without them
    # PushPredicateThroughNonJoin substitutes the heavy aliases into
    # every predicate, the tokenize/fold expressions appear 66× in
    # the executed plan, and the repetition stage alone costs +2.6 s
    # at sf0.1): observe() is a CollectMetrics node Spark never
    # pushes predicates through, costs one count per row, and the
    # metric is one a curation run wants anyway. Values unchanged —
    # the gates still run as filters over once-computed attributes.
    scored = docs.select(
        "doc_id",
        "text",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.quality_score(F.col("text")).alias("quality"),
        predict_lang_tokens_cached().alias("pred_lang"),
    ).observe(
        "curation_full_classified",
        F.count(F.lit(1)).alias("n_classified"),
    ).filter(
        (F.col("pred_lang") == "en")
        & (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 5)
    )
    # repetition folds are the most expensive surviving expression —
    # computed only for cheap-gate survivors, once per row (fenced)
    survivors = scored.withColumn(
        "rep", repetition_stats(F.col("text"))
    ).observe(
        "curation_full_rep",
        F.count(F.lit(1)).alias("n_rep_scored"),
    ).filter(
        (F.col("rep.top_word_frac") <= 0.12)
        & (F.col("rep.dup_2gram_frac") <= 0.05)
        & (F.col("rep.dup_3gram_frac") <= 0.02)
    ).select(
        "doc_id",
        F.md5("text").alias("digest"),
        "n_tokens",
        "quality",
        F.col("rep.top_word_frac").alias("top_word_frac"),
        "text",
    )
    kept = (
        charlm_attach_arrow(survivors, table)
        .filter(F.col("mean_p") >= 0.62)
        .select(
            "digest", "doc_id", "n_tokens", "quality",
            "top_word_frac", "mean_p",
        )
    )
    min_id = F.min("doc_id").over(Window.partitionBy("digest"))
    return (
        kept.withColumn("min_id", min_id)
        .filter(F.col("doc_id") == F.col("min_id"))
        .select(
            "doc_id", "digest", "n_tokens", "quality",
            "top_word_frac", "mean_p",
        )
    )


def _q_curation_full_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEB curation pipeline (round 15, VERDICT r14 #6): domain
    hygiene composed INTO the flagship text pipeline — one documents
    scan through blocklist anti-join (broadcast; the planted blocklist
    is every 10th doc's registered domain, 13 of the 65 planted
    domains) → the full curation_full text stack (lang-ID en → quality
    floor → token floor → Gopher repetition → Arrow charlm floor) →
    exact dedup keeping the lowest doc_id per digest → per-domain cap
    (≤5 survivors per registered domain, md5-hash pick,
    WindowGroupLimit pre-limits before the shuffle). Corpus side: the
    URL gates are map-side (reg_domain extraction) + one broadcast
    anti-join; the only exchanges are the blocklist dim build (tiny,
    filtered side), the digest dedup window, and the domain-cap
    window — plan-pinned. Real curation runs text and domain gates in
    one pass; this is that pass."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.charlm import (
        charlm_attach_arrow,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        predict_lang,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.text import (
        repetition_stats,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        apply_domain_blocklist,
        cap_per_domain,
        url_host,
        url_registered_domain,
    )

    docs = _plant_urls(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    table = _charlm_cached(spark, sf_dir)
    keyed = docs.select(
        "doc_id",
        "text",
        url_registered_domain(url_host(F.col("url"))).alias("reg_domain"),
    )
    blocklist = keyed.filter(F.col("doc_id") % 10 == 0).select("reg_domain")
    unblocked = apply_domain_blocklist(keyed, "reg_domain", blocklist)
    # pushdown fences — the curation_full/multiscript lesson (round
    # 16): without them the gate predicates inline the heavy fold
    # expressions per conjunct (66 split() copies measured in the
    # unfenced curation_full plan)
    scored = unblocked.select(
        "doc_id",
        "text",
        "reg_domain",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.quality_score(F.col("text")).alias("quality"),
        predict_lang_tokens_cached().alias("pred_lang"),
    ).observe(
        "curation_full_web_classified",
        F.count(F.lit(1)).alias("n_classified"),
    ).filter(
        (F.col("pred_lang") == "en")
        & (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 5)
    )
    survivors = (
        scored.withColumn("rep", repetition_stats(F.col("text")))
        .observe(
            "curation_full_web_rep",
            F.count(F.lit(1)).alias("n_rep_scored"),
        )
        .filter(
            (F.col("rep.top_word_frac") <= 0.12)
            & (F.col("rep.dup_2gram_frac") <= 0.05)
            & (F.col("rep.dup_3gram_frac") <= 0.02)
        )
        .select(
            "doc_id",
            "reg_domain",
            F.md5("text").alias("digest"),
            "n_tokens",
            "quality",
            "text",
        )
    )
    kept = (
        charlm_attach_arrow(survivors, table)
        .filter(F.col("mean_p") >= 0.62)
        .select("digest", "doc_id", "reg_domain", "n_tokens", "quality", "mean_p")
    )
    min_id = F.min("doc_id").over(Window.partitionBy("digest"))
    deduped = (
        kept.withColumn("min_id", min_id)
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id", "reg_domain", "digest", "n_tokens", "quality", "mean_p")
    )
    return cap_per_domain(deduped, "reg_domain", cap=5).select(
        "doc_id",
        "reg_domain",
        "digest",
        "n_tokens",
        "quality",
        "mean_p",
        F.col("rk").cast("int").alias("rk"),
    )


#: the training-mix language allowlist of the multiscript curation
#: pipeline — a "top-8" target set spanning all routing families
#: (Latin, Cyrillic, Arabic-script, Devanagari, CJK, Hangul, Thai).
_MS_TARGETS = ("ar", "en", "hi", "ja", "ko", "ru", "th", "zh")


def _plant_multiscript_mix(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The multiscript CURATION corpus: 3 of every 4 docs carry a
    32-language snippet (language = floor((doc_id % 128) / 4), so each
    language owns 4-id blocks) with a ``doc_id % 7`` digit suffix —
    varying the digest so exact dedup stays non-trivial without
    disturbing script routing (digits are letters of NO script) — and
    every 4th doc keeps its ORIGINAL corpus text (true_lang
    'corpus'), so the Latin path gates real text variance instead of
    32 fixed outcomes.

    The snippets arrive via a BROADCAST 32-row dim, NOT an
    element_at(lit(array)) expression (the _plant_multiscript shape):
    downstream FILTERS over the classifier push through this
    projection by alias substitution, and the 800-odd trigram
    references each inline a full copy of the planted expression —
    with a 3 KB literal array that exploded the plan to 3.3 MB of
    interpreted CASE trees (measured: 10.4 s for 500 docs). As a dim
    column the substituted copy is a few tokens."""
    langs, snippets = _multiscript_corpus()
    dim = spark.createDataFrame(
        [(i, langs[i], snippets[i]) for i in range(len(langs))],
        "idx int, plang string, snip string",
    )
    use_orig = F.col("doc_id") % 4 == 3
    idx = F.floor((F.col("doc_id") % 128) / F.lit(4.0)).cast("int")
    joined = docs.select("doc_id", "text", idx.alias("_idx")).join(
        F.broadcast(dim), F.col("_idx") == F.col("idx")
    )
    planted = F.concat(
        F.col("snip"), F.lit(" "), (F.col("doc_id") % 7).cast("string")
    )
    return joined.select(
        "doc_id",
        F.when(use_orig, F.lit("corpus"))
        .otherwise(F.col("plang"))
        .alias("true_lang"),
        F.when(use_orig, F.col("text")).otherwise(planted).alias("text"),
    )


def _q_script_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-aware vs whitespace quality stacks, side by side (round
    15 second wave): over the 32-language planted corpus, per-language
    doc counts, token sums and keep counts under BOTH stacks — the
    dual-output divergence shape (lang_id_script's). The whitespace
    stack (functions/text.py) reads a CJK/Thai document as ONE token
    (floor-rejected) and counts every non-ASCII letter as punctuation
    noise, so it keeps ~0 non-Latin docs however clean the prose; the
    script stack (functions/scriptq.py) counts continua characters as
    tokens and letter density of ANY script as prose-ness, keeping
    them all. Pure map-side expressions + one 32-group aggregate;
    min() over doubles (order-free) keeps the hash exact."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scriptq import (
        quality_score_script,
        script_token_count,
    )

    docs = _plant_multiscript(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    per = docs.select(
        "true_lang",
        tx.token_count(F.col("text")).alias("n_ws"),
        script_token_count(F.col("text")).alias("n_sc"),
        tx.quality_score(F.col("text")).alias("q_ws"),
        quality_score_script(F.col("text")).alias("q_sc"),
    )
    kept_ws = (F.col("n_ws") >= 5) & (F.col("q_ws") >= 0.5)
    kept_sc = (F.col("n_sc") >= 5) & (F.col("q_sc") >= 0.5)
    return per.groupBy("true_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").cast("long").alias("sum_tokens_ws"),
        F.sum("n_sc").cast("long").alias("sum_tokens_script"),
        F.sum(kept_ws.cast("int")).cast("long").alias("n_kept_ws"),
        F.sum(kept_sc.cast("int")).cast("long").alias("n_kept_script"),
        F.min("q_ws").alias("min_q_ws"),
        F.min("q_sc").alias("min_q_script"),
    )


def _q_curation_multiscript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTILINGUAL curation pipeline (round 15 second wave) —
    what curation_full becomes once the corpus stops being English:
    one scan through the 32-language script-routed classifier
    (lang_id_script's staged projections) gating on a top-8 training
    mix, script-aware token floor and quality floor
    (functions/scriptq.py), repetition ROUTED by script — continua
    documents gate on the duplicate char-trigram fraction (word
    shingles see one giant word), spaced documents on the Gopher word
    shingles with multilingual thresholds (0.15/0.10/0.05; the
    English-tuned 0.12 top-word bar rejects clean Arabic/Russian
    prose, whose function words repeat more than English's) — then
    exact dedup keeping the lowest doc_id per digest. charlm stays
    out by design: the LM table is English-trained and would re-bias
    the gate the pipeline just unbiased. Corpus: 3/4 planted
    snippets across all 32 languages (digit-suffixed so dedup is
    non-trivial), 1/4 original text exercising the Latin path on real
    variance. Only the routed branch's metric is evaluated per row
    (CaseWhen branches run conditionally in codegen); the single
    exchange is the digest dedup window.

    EXPRESSION-TREE DISCIPLINE (measured this round, the hard way):
    classifier staging MUST be paired with a filter-pushdown fence.
    Without one, PushPredicateThroughNonJoin substitutes the staged
    aliases into every predicate (no cheapness guard, unlike
    CollapseProject), the substitution compounds through the
    Project/Filter chain, and the plan exploded to 3.9 MB of
    interpreted CASE trees — 10 s of OPTIMIZER time + 8 s interpreted
    eval for 500 docs. The fence is ``observe()``: Spark never pushes
    predicates through a CollectMetrics node (doing so would change
    the observed metrics), it costs nothing per row, and the metric
    is one a curation run wants anyway (documents classified). A
    non-deterministic sentinel column does NOT work — ColumnPruning
    strips the unused column and the pushdown fires on the next
    fixed-point pass (measured). With the fence: filters stay above,
    every heavy column is computed once as an attribute, and the plan
    drops to 66 KB / 1.3 s optimize / 2.1 s warm exec."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        assemble_script_pred,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scriptq import (
        char_ngram_dup_frac,
        is_continua,
        quality_score_script,
        script_token_count,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.text import (
        repetition_stats,
    )

    docs = _plant_multiscript_mix(
        spark, fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    )
    base = docs.select(
        "doc_id",
        "text",
        F.lower(F.coalesce(F.col("text"), F.lit(""))).alias("s"),
    )
    cols = script_profile_cols_cached()
    staged = base.select(
        "doc_id",
        "text",
        "s",
        predict_lang_ngram_cached().alias("_lat"),
        cols["sb"].alias("_sb"),
        cols["cyr"].alias("_cyr"),
        cols["arb"].alias("_arb"),
        script_token_count(F.col("text")).alias("n_tokens"),
        quality_score_script(F.col("text")).alias("quality"),
        is_continua(F.col("s")).cast("int").alias("cont"),
    ).observe(
        "curation_multiscript_classified",
        F.count(F.lit(1)).alias("n_classified"),
    )
    scored = staged.select(
        "doc_id",
        "text",
        "s",
        "n_tokens",
        "quality",
        "cont",
        assemble_script_pred(
            F.col("_sb"), F.col("_cyr"), F.col("_arb"), F.col("_lat")
        ).alias("pred"),
    ).filter(
        F.col("pred").isin(*_MS_TARGETS)
        & (F.col("n_tokens") >= 5)
        & (F.col("quality") >= 0.5)
    )
    rep = repetition_stats(F.col("text"))
    survivors = scored.withColumn(
        "rep_ok",
        F.when(
            F.col("cont") == 1, char_ngram_dup_frac(F.col("s"), 3) <= 0.20
        ).otherwise(
            (rep.getField("top_word_frac") <= 0.15)
            & (rep.getField("dup_2gram_frac") <= 0.10)
            & (rep.getField("dup_3gram_frac") <= 0.05)
        ),
    ).filter(F.col("rep_ok")).select(
        "doc_id",
        F.md5("text").alias("digest"),
        "pred",
        "n_tokens",
        "quality",
        "cont",
    )
    min_id = F.min("doc_id").over(Window.partitionBy("digest"))
    return (
        survivors.withColumn("min_id", min_id)
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id", "digest", "pred", "n_tokens", "quality", "cont")
    )


def _q_sequence_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware sequence packing (round 15 second wave): the
    two trained-artifact stages composed — per-doc REAL subword counts
    under the in-engine-trained BPE merge table (apply-time
    segmentation over every word, planted OOV included) feed the
    shard-local prefix-sum packer, so bins are sized in the tokens a
    training run actually pays, not whitespace words. Corpus cost:
    ONE vocabulary-bounded trainer aggregate (cached) + one scan with
    the 2·k-replace segmentation expression + the per-shard packing
    windows (32 parallel windows, no global orderBy) + the final bin
    rollup. The twin re-derives the merges with the unrolled trainer
    CTEs, replays the identical replace chain, and packs with the
    same running-sum window — integer-exact end to end."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        bpe_token_stats_applied,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.packing import (
        pack_sequences,
        pack_stats,
    )

    merge_rows, _segs = _bpe_cached(spark, sf_dir)
    merges = [(a, b) for _step, a, b, _c in merge_rows]
    docs = _plant_bpe_oov(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    stats = bpe_token_stats_applied(docs, merges).select(
        "doc_id", "n_subwords"
    )
    packed = pack_sequences(
        stats, budget=512, shards=32, tokens_col="n_subwords"
    )
    return pack_stats(packed, tokens_col="n_subwords")


def _plant_html_docs(docs: DataFrame) -> DataFrame:
    """Each doc's text wrapped in a deterministic HTML scaffold that
    exercises every extraction rule: title + style (content must
    drop), a script with entity-laden code (must drop WITH content),
    a doc-id-bearing comment, planted entities (&amp;/&lt;/&gt;/
    &quot;/&nbsp;), and attribute-carrying tags around the body
    text."""
    did = F.col("doc_id").cast("string")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>doc "),
            did,
            F.lit(
                "</title><style>p { color: red; }</style></head>"
                "<body><script type=\"text/javascript\">var x = 1 "
                "&amp;&amp; 2;</script><h1>Q&amp;A &lt;notes&gt;</h1>"
                "<!-- trace "
            ),
            did,
            F.lit(' --><p class="main">'),
            F.col("text"),
            F.lit("</p><div>&nbsp;&quot;end&quot;</div></body></html>"),
        ).alias("html"),
    )


def _q_html_extracted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (round 15 second wave) — the stage a
    crawl pipeline runs before ANY gate sees text
    (functions/html.py:html_to_text: script/style-with-content drop →
    comment/tag strip → one-pass entity decode → whitespace squeeze,
    all compiled-regex codegen on the scan). Over the corpus wrapped
    in a deterministic scaffold exercising every rule: per doc, the
    raw vs extracted whitespace token counts and the md5 of the
    extracted text — the hash gate pins the EXACT extracted string,
    so any drift in rule order (entities before tags, double-decode)
    fails loudly. The twin applies the identical chain, built from
    the same step tables."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.html import (
        html_to_text,
    )

    docs = _plant_html_docs(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    ext = html_to_text(F.col("html"))
    return docs.select(
        "doc_id",
        tx.token_count(F.col("html")).alias("n_tokens_raw"),
        tx.token_count(ext).alias("n_tokens_text"),
        F.md5(ext).alias("digest"),
    )


def _q_bpe_compression_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fairness measurement (round 15 second wave): the
    chars-per-subword compression the English-corpus-trained BPE
    delivers PER LANGUAGE over the 32-language planted corpus —
    the inequity number behind 'multilingual users pay more tokens
    for the same text' (Petrov et al. 2023, *Language Model
    Tokenizers Introduce Unfairness Between Languages*). The merge
    table is the in-engine-trained one (vocabulary from THIS
    corpus's English-like text); apply-time segmentation replays it
    over every planted word, so English text compresses while
    non-Latin scripts fall back to ~1 char/subword — measured, per
    language, with the ratio value-hash-exact in the twin (trainer
    CTEs + replay over the planted corpus). One bounded trainer
    aggregate (cached) + one scan + one 32-group rollup."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        subword_count_expr,
    )

    merge_rows, _segs = _bpe_cached(spark, sf_dir)
    merges = [(a, b) for _step, a, b, _c in merge_rows]
    docs = _plant_multiscript(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    ex = docs.select(
        "true_lang", F.explode(tx.tokens(F.col("text"))).alias("w")
    )
    agg = ex.groupBy("true_lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).cast("long").alias("n_chars"),
        F.sum(subword_count_expr(F.col("w"), merges))
        .cast("long")
        .alias("n_subwords"),
    )
    return agg.select(
        "true_lang",
        "n_words",
        "n_chars",
        "n_subwords",
        F.round(
            F.col("n_chars").cast("double") / F.col("n_subwords"), 6
        ).alias("chars_per_subword"),
    )


def _q_dedup_survivors_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-routed near-dup SURVIVORSHIP (round 15 second wave) —
    the end of the dedup story the routed shingles opened: the
    script-routed LSH pairs feed pointer-jump connected components,
    and each cluster keeps its minimum doc_id (the CC label IS the
    cluster minimum, so survivor = doc whose label equals itself;
    singletons survive trivially). Per language: canonical docs in,
    survivors out, dropped count — every planted language's 7 suffix
    near-variants collapse to ONE survivor, INCLUDING ja/th/zh, which
    the word-shingle pipeline cannot deduplicate at all (zero
    shingles → no pairs → all 7 "survive" as false uniques). Exact
    dedup runs first (the canon window), so CC sees Θ(variants), not
    Θ(copies²). Oracle: the shared script-pair CTEs + recursive-CTE
    closure."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        connected_components,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        minhash_lsh_pairs_script,
    )

    docs = _plant_multiscript_mix(
        spark, fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    )
    min_id = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    canon = (
        docs.withColumn("min_id", min_id)
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id", "true_lang", "text")
        .persist()
    )
    pairs = minhash_lsh_pairs_script(canon, k=8, bands=4, n_word=3, n_char=6)
    comp = connected_components(pairs)
    labeled = canon.join(
        comp, canon["doc_id"] == comp["node"], "left"
    ).select(
        "true_lang",
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
    )
    surv = (F.col("doc_id") == F.col("cluster")).cast("int")
    return labeled.groupBy("true_lang").agg(
        F.count(F.lit(1)).alias("n_canon"),
        F.sum(surv).cast("long").alias("n_survivors"),
        F.sum(1 - surv).cast("long").alias("n_dropped"),
    )


def _q_kmv_distinct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketches with sketch-algebra merge (round 15
    second wave) — the approx-distinct tier whose ESTIMATE the oracle
    value-hashes exactly (the HLL tier has been rows-only since round
    1: engine-specific hashing; KMV is pure md5 rank arithmetic, see
    operators/kmv.py). Per (event_type, day): the 256 smallest
    distinct user-hash digests — the fixed-size artifact a 100 TB
    pipeline persists. Per event_type: the daily sketches MERGED
    (distinct + re-rank — exact KMV semantics) and the classic
    (k−1)/U(k) estimate, reported against the true countDistinct with
    the realized relative error, so the oracle pins the sketch build,
    the merge algebra, and the estimator — and the output documents
    the accuracy the sketch actually delivers. Build tier: one
    distinct + one (type, day) rank window; merge tier touches only
    sketch rows (≤ k per group)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmv import (
        kmv_estimate,
        kmv_hash,
        kmv_merge,
        kmv_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.weekofyear("ts").cast("int").alias("week"),
        F.to_date("ts").alias("day"),
        kmv_hash(F.col("user_id")).alias("hx"),
    )
    daily = kmv_sketch(keyed, ["week", "day"])
    merged = kmv_merge(daily, ["week"])
    est = kmv_estimate(merged, ["week"])
    exact = (
        ev.select(F.weekofyear("ts").cast("int").alias("week"), "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return est.join(exact, "week").select(
        "week",
        "n_exact",
        "sketch_size",
        "n_est",
        F.round(
            F.abs(F.col("n_est") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


#: per-language sampling rates of the multilingual mixture — the
#: "keep English, downsample the head, floor the tail" recipe a
#: multilingual pretraining mix realizes (shared by the Spark query
#: and its twin so the two can never drift)
_LANG_MIX_RATES = {
    "en": 1.0,
    "zh": 0.8,
    "ja": 0.8,
    "ru": 0.6,
    "ar": 0.6,
    "hi": 0.6,
    "ko": 0.4,
    "th": 0.4,
}
_LANG_MIX_DEFAULT = 0.2


def _q_language_mix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture realization (round 15 second wave): the
    domain_mix_counts mechanism keyed by PREDICTED language — the
    composition that makes it a multilingual pretraining tool: the
    32-language script-routed classifier assigns each document its
    mixture bucket, the stable md5 coin realizes the per-language
    rate, and the report counts BOTH documents and script-aware
    tokens (the budget a training run actually spends — a kept zh doc
    contributes its character count, not '1 word'). No filter over
    the classifier anywhere: the keep decision is a map-side CASE
    inside the aggregate (the domain_mix_counts shape), so the plan
    is one projection + one 32-group rollup — no pushdown fence
    needed. The classifier runs as the STAGED codegen projections
    (script_profile_cols/assemble — safe here because nothing filters
    over it; measured: the self-contained bound-lambda form is
    interpreted and cost ~0.4 ms/row, 22 s at sf0.1 vs ~3 s
    staged)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        assemble_script_pred,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        hash_fraction,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scriptq import (
        script_token_count,
    )

    docs = _plant_multiscript_mix(
        spark, fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    )
    rate = F.lit(_LANG_MIX_DEFAULT)
    for lang, r in sorted(_LANG_MIX_RATES.items()):
        rate = F.when(F.col("pred") == lang, F.lit(r)).otherwise(rate)
    cols = script_profile_cols_cached()
    staged = docs.select(
        "doc_id",
        predict_lang_ngram_cached().alias("_lat"),
        cols["sb"].alias("_sb"),
        cols["cyr"].alias("_cyr"),
        cols["arb"].alias("_arb"),
        script_token_count(F.col("text")).alias("n_tokens"),
    )
    per = staged.select(
        "doc_id",
        assemble_script_pred(
            F.col("_sb"), F.col("_cyr"), F.col("_arb"), F.col("_lat")
        ).alias("pred"),
        "n_tokens",
    ).select(
        "pred",
        "n_tokens",
        (hash_fraction(F.col("doc_id"), "lmix") < rate)
        .cast("int")
        .alias("keep"),
    )
    return per.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum(F.col("keep") * F.col("n_tokens"))
        .cast("long")
        .alias("kept_tokens"),
        F.round(
            F.sum("keep").cast("double") / F.count(F.lit(1)), 6
        ).alias("achieved_rate"),
    )


def _q_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality calibration (round 15 second wave): a
    single global quality floor is miscalibrated across languages —
    the score's length/letter/noise terms sit at different baselines
    per script, so one number over-prunes some languages and
    under-prunes others. Production multilingual curation (the
    CCNet percentile convention) keeps the TOP fraction PER language
    instead: here, per predicted language, the p40 quality value by
    the engine's exact-rank definition (row_number at ceil(0.4·n),
    doc_id tie-break — an actual score from the data) becomes that
    language's threshold, and the report shows threshold, keep count
    and realized keep rate side by side. Thresholds vary across
    languages on this corpus — the evidence a global floor can't be
    right. No filter touches the classifier (windows and aggregates
    only), so no pushdown fence is needed and it runs as the STAGED
    codegen projections (measured: the bound-lambda form is
    interpreted, ~44 s at sf0.1 vs ~4 s staged); exchanges are the
    per-pred rank window + the rollup."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        assemble_script_pred,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scriptq import (
        quality_score_script,
    )

    docs = _plant_multiscript_mix(
        spark, fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    )
    cols = script_profile_cols_cached()
    staged = docs.select(
        "doc_id",
        predict_lang_ngram_cached().alias("_lat"),
        cols["sb"].alias("_sb"),
        cols["cyr"].alias("_cyr"),
        cols["arb"].alias("_arb"),
        quality_score_script(F.col("text")).alias("quality"),
    )
    per = staged.select(
        "doc_id",
        assemble_script_pred(
            F.col("_sb"), F.col("_cyr"), F.col("_arb"), F.col("_lat")
        ).alias("pred"),
        "quality",
    )
    wo = Window.partitionBy("pred").orderBy("quality", "doc_id")
    wp = Window.partitionBy("pred")
    r = per.withColumn("rn", F.row_number().over(wo)).withColumn(
        "n", F.count(F.lit(1)).over(wp)
    )
    rank = F.greatest(F.lit(1), F.ceil(F.lit(0.4) * F.col("n")))
    # threshold as a SECOND window over the same partitioning, not a
    # groupBy + self-join: the join re-derived the whole classifier
    # lineage on the build side (482 KB plan, 2 scans); the window
    # shares the one sorted partition (56 KB, 1 scan)
    thr = F.max(F.when(F.col("rn") == rank, F.col("quality"))).over(wp)
    return (
        r.withColumn("threshold", thr)
        .groupBy("pred", "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("quality") >= F.col("threshold")).cast("int"))
            .cast("long")
            .alias("n_kept"),
        )
        .select(
            "pred",
            "n_docs",
            F.round("threshold", 9).alias("q40_threshold"),
            "n_kept",
            F.round(
                F.col("n_kept").cast("double") / F.col("n_docs"), 6
            ).alias("kept_rate"),
        )
    )


_MRL_DIMS = (8, 16, 32)


def _q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval eval (round 15 second wave) —
    the measurement behind MRL-style embedding serving (Kusupati et
    al. 2022): how much of the exact 64-dim top-10 survives when the
    index stores only the first 8/16/32 dimensions. Per (query, dim):
    the truncated-prefix brute-force top-10 intersected with the
    full-dimension truth, reported as n_common/recall — the
    bytes-vs-recall curve that decides a truncation tier, next to the
    PQ/SQ8 tiers already measured (operators/pq.py). Same
    deterministic machinery as cosine_topk (fixed fold order, rounded
    cosine, vec_id tie-break), so the whole eval value-hashes in the
    oracle. Corpus side: one scan per tier with a broadcast query
    probe — never shuffles for the join.

    Measured answer on THIS corpus (the residual-PQ honesty
    standard): the synthetic gaussian embeddings have NO matryoshka
    structure — no training concentrated information in early
    dimensions — so prefix recall is near-chance and climbs slowly
    (sf0.1: ~0.0 @8, ~0.08 @16, ~0.22 @32). The eval exists to
    MEASURE that before anyone serves a truncated index; on
    MRL-trained embeddings the same query reads the real curve."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5)

    def trunc(df: DataFrame, d: int) -> DataFrame:
        return df.select(
            "vec_id",
            F.slice(as_double_array(F.col("embedding")), 1, d).alias(
                "embedding"
            ),
        )

    fullsel = brute_force_topk(emb, queries, k=10).select(
        "query_id", "vec_id"
    )
    nfull = fullsel.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_full")
    )
    outs = []
    for d in _MRL_DIMS:
        td = brute_force_topk(trunc(emb, d), trunc(queries, d), k=10).select(
            "query_id", "vec_id"
        )
        match = (
            fullsel.join(td, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        outs.append(
            nfull.join(match, "query_id", "left").select(
                "query_id",
                F.lit(d).alias("dim"),
                "n_full",
                F.coalesce(F.col("n_common"), F.lit(0))
                .cast("long")
                .alias("n_common"),
                F.round(
                    F.coalesce(F.col("n_common"), F.lit(0))
                    / F.col("n_full"),
                    6,
                ).alias("recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _q_benchmark_decontam_script(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Script-routed benchmark decontamination (round 15 second
    wave): the GPT-3-style n-gram-collision check with the gram
    universe routed by script — word 8-grams are BLIND to CJK/Thai
    (a continua benchmark snippet is 1-2 whitespace "words", zero
    8-grams, so verbatim contamination passes untouched); continua
    docs use sliding char 12-grams (operators/decontam.py:
    script_ngrams). Over the planted mix corpus with every 50th doc
    as the held-out benchmark, BOTH pipelines run and roll up per
    language: the (ja/th/zh, n_eval_word=0, n_contam_script>0) rows
    are the divergence — contaminated CJK documents the word check
    cannot even evaluate. Both overlap joins broadcast the benchmark
    gram set; the corpus side never shuffles for them."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.decontam import (
        decontaminate,
        script_ngrams,
    )

    docs = _plant_multiscript_mix(
        spark, load_table(spark, sf_dir, "documents")
    )
    bench = F.pmod(F.col("doc_id"), F.lit(4)) == 1
    word_out = decontaminate(docs, bench, n=8).select(
        "doc_id", F.col("contaminated").cast("int").alias("cw")
    )
    script_out = decontaminate(
        docs, bench, ngrams=script_ngrams(F.col("text"))
    ).select("doc_id", F.col("contaminated").cast("int").alias("cs"))
    base = docs.filter(~bench).select("doc_id", "true_lang")
    per = base.join(word_out, "doc_id", "left").join(
        script_out, "doc_id", "left"
    )
    return per.groupBy("true_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("cw").alias("n_eval_word"),
        F.coalesce(F.sum("cw"), F.lit(0)).cast("long").alias("n_contam_word"),
        F.count("cs").alias("n_eval_script"),
        F.coalesce(F.sum("cs"), F.lit(0))
        .cast("long")
        .alias("n_contam_script"),
    )


def _q_sampled_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-sampled percentile estimation (round 15 second wave) —
    the deterministic approx-quantile tier, closing the same gap for
    quantiles that KMV closes for distinct counts: the KLL tier
    (value_percentiles_approx) is rows-only because its internals are
    engine-specific, while a 1/16 md5-coin Bernoulli sample
    (functions/sampling.py:hash_fraction — the coin every sampling
    decision in this engine derives from) is bit-reproducible in both
    engines, so the ESTIMATES value-hash exactly. Per event_type: p50
    and p95 of `value` over the full data and over the sample, both
    by the same exact-rank definition (row_number at ceil(p·n), ties
    broken by event_id — no interpolation, so outputs are actual data
    values), with absolute errors. The sample commutes with union
    (it is a filter), so at 100 TB the sampled tier is an
    incrementally maintainable artifact and only it needs the
    per-group sort; the full-data side here is the oracle-checkable
    truth the estimate is judged against."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        hash_fraction,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_type", "value", "event_id")

    def pcts(df: DataFrame, tag: str) -> DataFrame:
        wo = Window.partitionBy("event_type").orderBy("value", "event_id")
        wp = Window.partitionBy("event_type")
        r = df.withColumn("rn", F.row_number().over(wo)).withColumn(
            "n", F.count(F.lit(1)).over(wp)
        )

        def at(p: float) -> F.Column:
            rank = F.greatest(F.lit(1), F.ceil(F.lit(p) * F.col("n")))
            return F.max(F.when(F.col("rn") == rank, F.col("value")))

        return r.groupBy("event_type").agg(
            F.max("n").alias(f"n_{tag}"),
            at(0.5).alias(f"p50_{tag}"),
            at(0.95).alias(f"p95_{tag}"),
        )

    full = pcts(base, "full")
    samp = pcts(
        base.filter(
            hash_fraction(F.col("event_id"), "qtile") < F.lit(1.0 / 16)
        ),
        "sample",
    )
    j = full.join(samp, "event_type")
    return j.select(
        "event_type",
        "n_full",
        "n_sample",
        "p50_full",
        "p50_sample",
        "p95_full",
        "p95_sample",
        F.round(F.abs(F.col("p50_sample") - F.col("p50_full")), 6).alias(
            "p50_abs_err"
        ),
        F.round(F.abs(F.col("p95_sample") - F.col("p95_full")), 6).alias(
            "p95_abs_err"
        ),
    )


def _q_kmv_jaccard_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA (round 15 second wave): pairwise overlap of
    the five event types' (user, day) activity sets estimated purely
    from their 256-minima KMV sketches — the theta-sketch
    intersection trick (operators/kmv.py:kmv_set_ops): hashes below
    θ = min(θ_A, θ_B) are retained by both sketches iff in both sets,
    so |A∩B| ≈ shared-below-θ / θ, union by inclusion-exclusion,
    Jaccard from the two. Reported against the EXACT pair overlap
    (the (user, day) equi-self-join) with realized error — the oracle
    value-hashes the estimator arithmetic itself, which no
    engine-native approx sketch allows. Sketch side never touches the
    raw sets after the build: the pair join is over ≤ k rows per
    group."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmv import (
        kmv_hash,
        kmv_merge,
        kmv_set_ops,
    )

    ev = load_table(spark, sf_dir, "events")
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.to_date("ts").cast("string"),
    )
    keyed = ev.select("event_type", kmv_hash(key).alias("hx"))
    sk = kmv_merge(keyed, ["event_type"])
    est = kmv_set_ops(sk, "event_type")
    s = ev.select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    ).distinct()
    sizes = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        s.select(
            F.col("event_type").alias("ga"), "user_id", "day"
        )
        .join(
            s.select(F.col("event_type").alias("gb"), "user_id", "day"),
            ["user_id", "day"],
        )
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = (
        inter.join(
            sizes.select(F.col("event_type").alias("ga"), F.col("n").alias("n_a")),
            "ga",
        )
        .join(
            sizes.select(F.col("event_type").alias("gb"), F.col("n").alias("n_b")),
            "gb",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    return exact.join(est, ["ga", "gb"]).select(
        "ga",
        "gb",
        "n_a",
        "n_b",
        "n_inter",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("est_inter", 3).alias("est_inter"),
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias(
            "jaccard_abs_err"
        ),
    )


def _q_near_dup_pairs_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-routed near-dup detection (round 15 second wave): the
    MinHash-LSH pipeline whose shingle universe routes by script —
    char 6-grams for continua-majority documents, word 3-grams
    otherwise (operators/dedup.py:script_doc_shingles). The
    word-shingle path is structurally BLIND to CJK/Thai: one
    whitespace token → zero 3-gram shingles → no signature → no
    bands, so near-dup Chinese pages never pair. Over the planted mix
    corpus (digit-suffixed snippets = within-language near-dups,
    plus real corpus text): exact-digest pre-collapse first (the
    production order — identical texts would clique the band join),
    then script-routed LSH pairs, labeled per language with a
    ``word_visible`` flag (both endpoints have ≥3 word tokens, i.e.
    the word path could even SEE them) and rolled up. The divergence
    rows are the (lang, word_visible=0) groups — every continua
    language's pairs — which the word pipeline reports as zero.
    Exchanges: canon window + shingle distinct + signature agg + the
    band self-join + rollup, all narrow (digests/ids)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        minhash_lsh_pairs_script,
    )

    docs = _plant_multiscript_mix(
        spark, load_table(spark, sf_dir, "documents")
    )
    min_id = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    canon = (
        docs.withColumn("min_id", min_id)
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id", "true_lang", "text")
        .persist()  # narrow (id, lang, text); feeds 3 consumers below
    )
    pairs = minhash_lsh_pairs_script(canon, k=8, bands=4, n_word=3, n_char=6)
    meta = canon.select(
        "doc_id",
        "true_lang",
        (tx.token_count(F.col("text")) >= 3).cast("int").alias("wv"),
    )
    labeled = (
        pairs.join(
            meta.select(
                F.col("doc_id").alias("doc_a"),
                F.col("true_lang").alias("lang_a"),
                F.col("wv").alias("wv_a"),
            ),
            "doc_a",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("doc_b"), F.col("wv").alias("wv_b")
            ),
            "doc_b",
        )
    )
    return labeled.groupBy(
        F.col("lang_a").alias("true_lang"),
        (F.col("wv_a") * F.col("wv_b")).alias("word_visible"),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


def _domain_alpha_rates(doms: DataFrame) -> DataFrame:
    """Per-domain α=0.5 mixture table over a (doc_id, reg_domain)
    frame: (reg_domain, n_docs, share_raw, share_alpha, rate,
    expected_kept) — see _q_domain_mixture_alpha for the exactness
    rules (sqrt is IEEE-exact; the normalizing total is a
    DECIMAL(38,9) sum of 9dp-rounded weights, order-free)."""
    per = doms.groupBy("reg_domain").agg(F.count("*").alias("n_docs"))
    sq = F.round(F.sqrt(F.col("n_docs").cast("double")), 9)
    per = per.withColumn("sq", sq.cast("decimal(38,9)"))
    # normalizing totals via the repo-standard 1-row aggregate +
    # broadcast crossJoin (round 14, VERDICT r13 #5): a partition-less
    # window would drag the whole domain dim through ONE task — fine at
    # demo cardinality, wrong at the ~10⁸-row web-scale registered-
    # domain dim. The partial-agg tree computes both sums distributed;
    # the decimal sum is order-free so the values are identical.
    tot = per.agg(
        F.sum("sq").alias("tot_sq"), F.sum("n_docs").alias("tot_n")
    )
    per = per.crossJoin(F.broadcast(tot))
    share_alpha = F.col("sq").cast("double") / F.col("tot_sq").cast("double")
    rate = F.least(
        F.lit(1.0),
        share_alpha
        * (F.col("tot_n").cast("double") / 2.0)
        / F.col("n_docs").cast("double"),
    )
    return per.select(
        "reg_domain",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("tot_n").cast("double"), 6
        ).alias("share_raw"),
        F.round(share_alpha, 6).alias("share_alpha"),
        F.round(rate, 6).alias("rate"),
        F.floor(rate * F.col("n_docs").cast("double"))
        .cast("long")
        .alias("expected_kept"),
    )


def _planted_doms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, reg_domain) over the planted URL corpus — the shared
    input of the mixture queries."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        url_host,
        url_registered_domain,
    )

    docs = _plant_urls(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        url_registered_domain(url_host(F.col("url"))).alias("reg_domain"),
    )


def _q_domain_mixture_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (round 13): per-domain
    sampling shares ∝ n_d^α at α = 0.5 — the multilingual-sampling
    rebalance (upweight the tail, damp the head) every production mix
    applies above the hard per-domain caps. α is exactly 0.5 so the
    power IS ``sqrt`` (IEEE-exact, no transcendental drift); per-domain
    sqrt weights are rounded to 9dp and summed as DECIMAL(38,9) — the
    repo's decimal-exact-grouped-sum rule — so the normalizing total is
    order-free and distributed, never an ordered driver fold. Rate =
    min(1, share_α · (N/2) / n_d); expected_kept floors rate·n_d.
    All on the registered-domain dim (domain-cardinality rows)."""
    return _domain_alpha_rates(_planted_doms(spark, sf_dir))


def _q_mixture_sampled_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The α-mixture REALIZED (round 13): every doc flips the stable
    md5 coin against its domain's computed rate (broadcast join of the
    domain-cardinality rate dim — rates are DATA here, where
    url_suffix_mix_counts' rates are a literal recipe), and the
    per-domain achieved counts come back next to the expectation. The
    corpus side is one streamed scan + one broadcast join; only the
    tiny per-domain aggregate shuffles. Decisions compare the
    6dp-ROUNDED rate on both engines, so the coin threshold is
    bit-identical."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        hash_fraction,
    )

    doms = _planted_doms(spark, sf_dir)
    rates = _domain_alpha_rates(doms).select(
        "reg_domain", "rate", "expected_kept"
    )
    keep = hash_fraction(F.col("doc_id"), salt="alpha") < F.col("rate")
    return (
        doms.join(F.broadcast(rates), "reg_domain")
        .select(
            "reg_domain",
            "expected_kept",
            F.when(keep, 1).otherwise(0).alias("kept"),
        )
        .groupBy("reg_domain", "expected_kept")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
    )


def _q_charlm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-class LM quality scoring (round 13; Wenzek et al. 2020):
    a char-trigram model trained ON THE CORPUS in one
    bounded-cardinality aggregate (trigram keys are integer indexes
    over a fixed 28-symbol alphabet — at most 28³ rows whatever the
    corpus size), then every doc scored MAP-SIDE against the
    constant-folded probability array: O(1) element_at per position,
    ascending fold, zero exchanges in the scoring plan (plan-pinned).
    The score is the mean smoothed trigram probability —
    transcendental-free by design so the twin reproduces every value
    bit-for-bit (ln's last ulp is not contractually portable; see
    functions/charlm.py). min_p is the gibberish-spike detector.
    Served through the Arrow kernel (charlm_scores_arrow — Spark-side
    lowering and rounding, cumsum fold: BIT-EXACT with the expression
    path, pinned in pytest over the whole sf0.1 corpus), which prices
    at ~0.4 ms/doc where the interpreted HOF pipeline costs ~2.8;
    charlm_score_expr remains the composable column form
    curation_full gates on."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.charlm import (
        charlm_scores_arrow,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return charlm_scores_arrow(docs, _charlm_cached(spark, sf_dir))


_LANG_SNIPPETS: dict[str, str] = {
    # lowercase natural-text snippets, one per CHAR_PROFILES language —
    # the planted multilingual corpus for lang_id_ngram (the synthetic
    # documents share one English-ish vocabulary, so breadth needs
    # planted text; the _plant_urls precedent)
    "en": "the quick study of the river is one thing that you have seen with the wind and the morning light",
    "de": "der alte mann ging durch die stadt und sprach mit einem freund über die schönen zeiten die nicht wiederkommen",
    "fr": "le petit garçon est dans les rues de la ville pour chercher une chanson que les gens aiment toujours",
    "es": "el estado de la ciudad es una cuestión que los vecinos quieren discutir para mejorar la situación",
    "pt": "a canção do verão não é uma tradição da região mas tem uma emoção que os corações entendem",
    "it": "il ragazzo di napoli che canta per la strada non ha mai visto una stagione della vita così bella",
    "nl": "de jongen fietst door het dorp en ziet dat een oude vrouw niet over de gracht kan komen vandaag",
    "sv": "det är en vacker dag och att kunna springa till skogen för att se solen är något som alla vill ha",
    "da": "det var også en hemmelighed af den slags som han i et øjeblik havde glemt alt om da han gik hjem fra arbejde",
    "no": "det er ikke lett å være den som alltid skal bære alt til de andre i norge når vinteren kommer",
    "fi": "talvella järvessä uiminen on hyväksi terveydelle mutta kaikki eivät halua kokeilla sitä koskaan",
    "hu": "egy szép napon a magyar emberek elmentek a városba hogy megnézzék az új hidat a folyó felett",
    "pl": "nie wszyscy ludzie w polsce wiedzą że przyroda się zmienia i trzeba ją chronić przez cały rok",
    "cs": "někteří lidé v české republice byli přesvědčeni že nová historická výstava je nejlepší ze všech",
    "ro": "orașul este foarte frumos în această perioadă și mulți oameni preferă să meargă pe jos în parcul mare",
    "tr": "bir gün istanbulda yaşayan insanlar denize bakmak için sahile gidiyorlar ve orada çay içiyorlardı",
    "id": "orang yang tinggal di kota itu akan pergi ke pasar untuk membeli makanan dan bertemu dengan teman",
    "vi": "một người việt nam đang đi trên đường phố và nghĩ về những ngày được sống cùng gia đình của mình",
    "sw": "watu wa kijiji wanataka kwenda sokoni kununua chakula cha jioni na kuzungumza na marafiki zao",
    "ca": "el noi de la ciutat vella camina amb els seus amics per la plaça i parla de la festa que ve aquest estiu",
}


def _plant_multilingual(docs: DataFrame) -> DataFrame:
    """(doc_id, true_lang, text) — every doc REPLACED by the snippet of
    language doc_id % 20 (replacement, not append: the English-ish
    synthetic soup would swamp any planted signal)."""
    langs = sorted(_LANG_SNIPPETS)
    lang_expr = F.element_at(
        F.lit(langs), (F.col("doc_id") % len(langs)).cast("int") + 1
    )
    text_expr = F.element_at(
        F.lit([_LANG_SNIPPETS[lg] for lg in langs]),
        (F.col("doc_id") % len(langs)).cast("int") + 1,
    )
    return docs.select(
        "doc_id", lang_expr.alias("true_lang"), text_expr.alias("text")
    )


def _q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide language-ID (round 14, VERDICT r13 #6): the 20-language
    char-trigram classifier over a planted multilingual corpus, with
    the legacy 4-language stopword path alongside — the divergence
    rows ARE the result (the psl_registered_domains dual-output
    shape): every non-{de,en,es,fr} document is structurally beyond
    the stopword lanes, and the ngram path must get it right (100%
    planted accuracy pytest-pinned). Scoring is map-only, HOF-free
    whole-stage codegen: each language's score is the
    replace()-length-diff occurrence mass of its profile trigrams
    (functions/langid.py:profile_score — the hashed-table and
    per-trigram-filter designs both lost to plan/interp overheads,
    see the module notes); the twin is the same replace() arithmetic,
    integer-exact, identical argmax/tie-break."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        predict_lang,
    )

    docs = _plant_multilingual(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    return docs.select(
        "doc_id",
        "true_lang",
        predict_lang_ngram_cached().alias("pred_ngram"),
        predict_lang_tokens_cached().alias("pred_stopword"),
    )


_LANG_SNIPPETS_NONLATIN: dict[str, str] = {
    # lowercase natural-text snippets for the 12 non-Latin-script
    # languages (round 15, VERDICT r14 #1) — merged with
    # _LANG_SNIPPETS into the 32-language planted corpus of
    # lang_id_script. All pre-lowercased so cross-engine case mapping
    # never enters the hash.
    "ru": "в москве сегодня хорошая погода и многие люди гуляют в парке чтобы посмотреть на осенние листья и это приятно",
    "uk": "в україні багато людей розмовляють українською мовою і пишаються своєю культурою та історією що є важливим",
    "bg": "в българия хората обичат да се разхождат в планината през лятото и да говорят за времето и живота",
    "ar": "في المدينة القديمة يذهب الناس إلى السوق لشراء الطعام والحديث مع الأصدقاء في المساء عن الحياة",
    "fa": "در شهر تهران مردم به بازار می روند تا غذا بخرند و با دوستان خود صحبت کنند که خوب است",
    "hi": "भारत में लोग सुबह उठकर बाजार जाते हैं और अपने दोस्तों के साथ चाय पीते हैं",
    "zh": "在上海这个城市里很多人每天早上都会去公园散步然后喝茶聊天看看风景",
    "ja": "東京の街では多くの人が朝早く起きて公園を散歩してお茶を飲みながら話をしています",
    "ko": "서울의 거리에서 많은 사람들이 아침에 일어나 공원을 산책하고 차를 마시며 이야기를 나눕니다",
    "el": "στην αθήνα οι άνθρωποι περπατούν στους δρόμους και μιλούν για τον καιρό και τη ζωή τους",
    "he": "בעיר הגדולה אנשים הולכים לשוק כדי לקנות אוכל ולדבר עם חברים על החיים",
    "th": "ในกรุงเทพผู้คนเดินไปตลาดเพื่อซื้ออาหารและพูดคุยกับเพื่อนในตอนเช้า",
}


def _multiscript_corpus() -> tuple[list[str], list[str]]:
    """(langs, snippets) for the 32-language planted corpus, sorted by
    language code — the single source both the Spark planting and the
    oracle's literal arrays derive from."""
    merged = {**_LANG_SNIPPETS, **_LANG_SNIPPETS_NONLATIN}
    langs = sorted(merged)
    return langs, [merged[lg] for lg in langs]


def _plant_multiscript(docs: DataFrame) -> DataFrame:
    """(doc_id, true_lang, text) — every doc replaced by the snippet of
    language doc_id % 32 (the _plant_multilingual shape, widened to the
    non-Latin scripts)."""
    langs, snippets = _multiscript_corpus()
    idx = (F.col("doc_id") % len(langs)).cast("int") + 1
    return docs.select(
        "doc_id",
        F.element_at(F.lit(langs), idx).alias("true_lang"),
        F.element_at(F.lit(snippets), idx).alias("text"),
    )


def _q_lang_id_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-script language ID (round 15, VERDICT r14 #1): the
    combined 32-language classifier — Unicode-script-block routing
    (regexp_replace code-point counts, probed bit-equal across engines
    on combining-mark scripts) over trigram-profile argmaxes per
    family — against the Latin-only 20-language path alongside. The
    divergence rows ARE the result (the lang_id_ngram dual-output
    shape): every CJK/Cyrillic/Arabic/Devanagari/… document
    argmax-ties to 'ca' on the Latin-only path (all its profiles score
    0 beyond Latin) and must classify correctly on the script path —
    100% planted accuracy pytest-pinned for all 32 languages. Map-only,
    HOF-free beyond two bounded array_min argmaxes: 0 exchanges.

    Staged across three projections (functions/langid.py docstrings,
    measured this round): the Latin 20-profile argmax once (shared by
    the output column and the routing fallback), the script argmax +
    family argmaxes once (the ``sb`` struct is multi-referenced so
    CollapseProject keeps the split), and a tiny assembly CASE — the
    naive single expression duplicated the 9-regex script argmax
    across all CASE branches, blew janino's 64 KB per-method limit,
    and silently fell back to interpreted eval."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        assemble_script_pred,
    )

    docs = _plant_multiscript(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    base = docs.select(
        "doc_id",
        "true_lang",
        "text",
        predict_lang_ngram_cached().alias("pred_latin_only"),
    )
    cols = script_profile_cols_cached()
    staged = base.select(
        "doc_id",
        "true_lang",
        "pred_latin_only",
        cols["sb"].alias("_sb"),
        cols["cyr"].alias("_cyr"),
        cols["arb"].alias("_arb"),
    )
    return staged.select(
        "doc_id",
        "true_lang",
        assemble_script_pred(
            F.col("_sb"),
            F.col("_cyr"),
            F.col("_arb"),
            F.col("pred_latin_only"),
        ).alias("pred"),
        "pred_latin_only",
    )


_SCORER_PLANT = "premium verified badge exclusive"
_SCORER_NB = 256
_SCORER_EPOCHS = 8
_SCORER_ETA = 4000.0


def _plant_scored_docs(docs: DataFrame) -> DataFrame:
    """Planted-label training corpus for the in-engine classifier fit:
    docs with doc_id % 3 == 0 get four marker tokens appended and
    label y=1; the rest keep their text with y=0. The label derives
    from doc_id — NOT from the text — so the classifier must DISCOVER
    the planted vocabulary through the hashed feature space (the
    _plant_urls planting precedent: the synthetic corpus carries no
    naturally learnable signal — its real `lang`/`source` columns are
    independent of the text by construction, measured: a fitted model
    on those labels learns exactly the majority bias)."""
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + _SCORER_PLANT)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("y"),
    )


def _scorer_fit_cached(spark: SparkSession, sf_dir: str):
    """One fit feeds both scorer_trained queries (the
    _kmeans_centroids_cached sharing pattern). Returns
    (weights, bias, cv frame)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        hashed_count_rows,
        scorer_fit_ls,
    )

    def _build():
        docs = _plant_scored_docs(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
        # the CHECKPOINTED feature frame rides the cache next to the
        # parameters (the S11 hot-DF pattern): three queries consume
        # it, and rebuilding the tokenize→hash→densify pipeline per
        # materialization cost ~6 s/pass at sf0.1 where the
        # checkpointed rows re-scan in ~0.2 s. n rides along so the
        # parameter query can distinguish "trained on an empty
        # corpus" (no model — emit zero rows, the empty-input
        # contract) from a legitimate all-zero fit.
        cv = hashed_count_rows(
            docs, F.col("y"), n_buckets=_SCORER_NB
        ).localCheckpoint(eager=False)
        w, bias = scorer_fit_ls(
            cv,
            n_buckets=_SCORER_NB,
            epochs=_SCORER_EPOCHS,
            eta=_SCORER_ETA,
        )
        return (w, bias, cv.count(), cv)

    return cached(
        _dataset_fingerprint(sf_dir, "documents")
        + (f"scorerfit{_SCORER_NB}x{_SCORER_EPOCHS}",),
        _build,
    )


def _q_scorer_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine distributed classifier training (round 14, VERDICT
    r13 #3): the 256-bucket hashed-ngram linear quality scorer FITTED
    on labeled data by 8 full-batch GD epochs on centered least
    squares (functions/scorer.py:scorer_fit_ls) — output is the
    trained parameter vector itself, (bucket, weight) plus the bias
    as bucket −1, under the full value-hash gate: the DuckDB twin
    re-runs the entire training loop as unrolled CTEs (the
    kmeans_oracle_ctes precedent) and must land on bit-identical
    weights. Training is transcendental-free by design (least squares,
    not logistic: no exp/log whose last ulp differs across engines);
    every gradient sum is a DECIMAL sum of floor-rounded addends
    (order-free ⇒ partitioning-independent), every per-doc score an
    ascending fold. Per epoch the corpus pays one map-only residual
    pass plus one bounded bucket-cell aggregate — the kmeans iteration
    shape, so a 100 TB fit is epochs × (scan + codebook-sized
    shuffle)."""
    w, bias, n, _cv = _scorer_fit_cached(spark, sf_dir)
    if n == 0:  # no training rows → no model (empty-input contract)
        return spark.createDataFrame([], "bucket int, weight double")
    rows = [(b, float(w[b])) for b in range(_SCORER_NB)] + [
        (-1, float(bias))
    ]
    return spark.createDataFrame(rows, "bucket int, weight double")


def _q_scorer_trained_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained classifier APPLIED (round 14): per-doc margin under
    the weights _q_scorer_trained fitted, with the planted ground
    truth alongside — (doc_id, y, pred, keep). Scoring is map-only
    (literal weight array, ascending fold — margin_from_weights'
    shape); non-vacuity is pytest-pinned: trained accuracy beats the
    majority class by a wide margin where the untrained model cannot
    (tests/test_round14_properties.py)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        scorer_predict,
    )

    w, bias, _n, cv = _scorer_fit_cached(spark, sf_dir)
    return scorer_predict(cv, w, bias)


_SCORER_SIG_ETA = 16000.0
_SCORER_SIG_ETA_B = 4.0


def _scorer_sig_cached(spark: SparkSession, sf_dir: str):
    """One sigmoid-link fit feeds both scorer_sig queries — reuses the
    checkpointed feature frame of _scorer_fit_cached (same corpus,
    same hashing), so the sig fit pays only its epochs."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        scorer_fit_sig,
    )

    def _build():
        _w_ls, _b_ls, n, cv = _scorer_fit_cached(spark, sf_dir)
        w, bias = scorer_fit_sig(
            cv,
            n_buckets=_SCORER_NB,
            epochs=_SCORER_EPOCHS,
            eta=_SCORER_SIG_ETA,
            eta_bias=_SCORER_SIG_ETA_B,
        )
        return (w, bias, n, cv)

    return cached(
        _dataset_fingerprint(sf_dir, "documents")
        + (f"scorersig{_SCORER_NB}x{_SCORER_EPOCHS}",),
        _build,
    )


def _q_scorer_trained_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATED in-engine classifier training (round 15, VERDICT r14
    #5): the same 256-bucket hashed-ngram model fitted by 8 full-batch
    GD epochs on MSE over ALGEBRAIC-sigmoid probabilities
    (functions/scorer.py:scorer_fit_sig) — the sigmoid link the
    production gate wants, with the exp() obstruction to a bit-exact
    twin removed by construction: σ̃(z) = 0.5 + 0.5·z/(1+|z|) is
    +,−,×,÷,abs only, every op IEEE-exact, so the trained weights AND
    the jointly-trained intercept sit under the full value-hash gate
    (the DuckDB twin unrolls the whole loop, _scorer_sig_ctes). Output
    (bucket, weight) plus serving bias as bucket −1. Same per-epoch
    scale shape as scorer_trained: one map-only gradient pass + one
    bounded bucket-cell DECIMAL aggregate. Accuracy on the planted
    corpus beats both the majority class and the LS fit
    (pytest-pinned), with genuinely separated probabilities."""
    w, bias, n, _cv = _scorer_sig_cached(spark, sf_dir)
    if n == 0:  # no training rows → no model (empty-input contract)
        return spark.createDataFrame([], "bucket int, weight double")
    rows = [(b, float(w[b])) for b in range(_SCORER_NB)] + [
        (-1, float(bias))
    ]
    return spark.createDataFrame(rows, "bucket int, weight double")


def _q_scorer_sig_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calibrated classifier APPLIED (round 15): per-doc
    probability p = σ̃(margin) ∈ (0,1) under the sig-fit parameters,
    planted truth alongside — (doc_id, y, p, keep). Map-only serving,
    literal weight array."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        scorer_predict_sig,
    )

    w, bias, _n, cv = _scorer_sig_cached(spark, sf_dir)
    return scorer_predict_sig(cv, w, bias)


def _q_curation_scored_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation gated by the TRAINED classifier (round 14 — the
    closing half of VERDICT r13 #3): the planted corpus flows through
    quality floor → token floor → the margin of the weights
    scorer_trained FITTED IN-ENGINE (pred ≥ 0.5) → exact dedup
    keep-min. The trained gate is map-only at serve time (literal
    weight array over the shared feature frame); the oracle re-runs
    the whole GD fit in CTEs and then applies the same gates, so the
    kept set is hash-verified end-to-end: training AND its downstream
    use in one differential. Output carries the planted label so the
    result exhibits what the gate did (mostly y=1 survives)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        scorer_predict,
    )

    w, bias, _n, cv = _scorer_fit_cached(spark, sf_dir)
    docs = _plant_scored_docs(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    scored = docs.select(
        "doc_id",
        "text",
        "y",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.quality_score(F.col("text")).alias("quality"),
    )
    preds = scorer_predict(cv, w, bias).select("doc_id", "pred")
    kept = (
        scored.join(preds, "doc_id")
        .filter(
            (F.col("quality") >= 0.5)
            & (F.col("n_tokens") >= 5)
            & (F.col("pred") >= 0.5)
        )
        .select(
            F.md5("text").alias("digest"),
            "doc_id", "y", "n_tokens", "quality", "pred",
        )
    )
    min_id = F.min("doc_id").over(Window.partitionBy("digest"))
    return (
        kept.withColumn("min_id", min_id)
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id", "digest", "y", "n_tokens", "quality", "pred")
    )


def _dsir_ratios_cached(spark: SparkSession, sf_dir: str) -> list[float]:
    """One DSIR table build feeds both dsir queries: target = the
    planted marker class (docs with y=1), raw = the whole planted
    corpus (DSIR's raw pool CONTAINS the target-like docs — that is
    the point of selection)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.dsir import (
        dsir_ratio_table,
        hashed_bucket_counts,
    )

    def _build():
        docs = _plant_scored_docs(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
        ct, tt = hashed_bucket_counts(docs.filter(F.col("y") == 1))
        cr, tr = hashed_bucket_counts(docs)
        return dsir_ratio_table(ct, tt, cr, tr)

    return cached(_dataset_fingerprint(sf_dir, "documents") + ("dsir256",), _build)


def _q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance scoring (round 14; Xie et al. 2023
    adapted to the engine's bit-exact rules — functions/dsir.py): the
    per-doc mean p_target/p_raw feature ratio over hashed
    unigram+bigram buckets, target = the planted marker class. Both
    distribution tables are bounded hash aggregates (codebook-sized
    collects); scoring is the map-only literal-weight margin fold.
    The twin recomputes counts, smoothing, ratios, and the
    document-order fold from the same integers — hash-exact. Planted
    docs must score visibly above the rest (pytest pins the
    separation)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.dsir import (
        dsir_score,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        doc_features,
    )

    ratios = _dsir_ratios_cached(spark, sf_dir)
    docs = _plant_scored_docs(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    toks = docs.select("doc_id", "y", tx.tokens(F.col("text")).alias("toks"))
    feats = toks.select(
        "doc_id", "y", doc_features(F.col("toks")).alias("feats")
    )
    return feats.select(
        "doc_id",
        "y",
        F.size("feats").cast("int").alias("n_feats"),
        dsir_score(F.col("feats"), ratios).alias("score"),
    )


def _q_dsir_resampled_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING realized (round 14): every doc flips
    the stable md5 coin against rate = flr₆((score − min) /
    (max − min)) — min/max are ONE 1-row aggregate broadcast back
    (the repo's normalizing-scalar shape, never a driver fold or a
    global window; a degenerate constant-score corpus keeps
    everything). The min-max affine map is monotone in the importance
    weight and spreads this corpus's tight mean-ratio band so the
    selection pressure is visible: the per-class kept counts land
    next to the class sizes and must upweight the target class
    markedly (pytest pins the gap). Same decision arithmetic on both
    engines (6dp-rounded rate, identical coin)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        hash_fraction,
    )

    scores = _q_dsir_scores(spark, sf_dir)
    maxs = scores.agg(
        F.max("score").alias("max_score"),
        F.min("score").alias("min_score"),
    )
    rate = F.when(
        F.col("max_score") == F.col("min_score"), F.lit(1.0)
    ).otherwise(
        F.floor(
            (F.col("score") - F.col("min_score"))
            / (F.col("max_score") - F.col("min_score"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    keep = hash_fraction(F.col("doc_id"), salt="dsir") < F.col("rate")
    return (
        scores.crossJoin(F.broadcast(maxs))
        .withColumn("rate", rate)
        .select(
            "y", F.when(keep, 1).otherwise(0).alias("kept")
        )
        .groupBy("y")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
    )


_BPE_K = 8
_BPE_TOPV = 1024


def _bpe_cached(spark: SparkSession, sf_dir: str):
    """One BPE training run feeds both bpe queries. Returns
    (merge table rows, {word: n_subwords})."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        bpe_train,
        vocab_with_freq,
    )

    def _build():
        docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
        vocab = vocab_with_freq(docs, top_v=_BPE_TOPV)
        return bpe_train(vocab, k_merges=_BPE_K)

    return cached(
        _dataset_fingerprint(sf_dir, "documents") + (f"bpe{_BPE_K}x{_BPE_TOPV}",),
        _build,
    )


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine BPE tokenizer training (round 14; Sennrich et al.
    2016 — functions/bpe.py): the learned merge table itself, 8
    merges over the corpus's top-1024 word-frequency vocabulary,
    under the full value-hash gate — the DuckDB twin re-runs the
    whole trainer as unrolled CTE rounds (pair counting by freq,
    highest-count/lexicographic tie-break, merges applied by
    non-overlapping left-to-right replace over separator-padded
    symbol strings — the one primitive both engines define
    identically). The corpus pays ONE vocabulary-bounded aggregate;
    the merge loop runs on the codebook-sized vocab table."""
    merges, _segs = _bpe_cached(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, pair_count long"
    )


def _q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained segmentation APPLIED (round 14): per-doc word /
    subword / OOV counts under the learned merges — the token-budget
    accounting a packing pipeline runs before batching. The
    segmentation dim is top_v rows broadcast; OOV words fall back to
    their character count (the untrained upper bound; exercised in
    pytest with a truncated dim — the full-vocab run has none)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        bpe_token_stats,
        subword_count_dim,
    )

    _merges, segs = _bpe_cached(spark, sf_dir)
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return bpe_token_stats(docs, subword_count_dim(spark, segs))


_BPE_PLANT_WORDS = ["plasterer", "stinger", "winnower", "perforator"]


def _plant_bpe_oov(docs: DataFrame) -> DataFrame:
    """Append one deterministic out-of-vocabulary word per doc
    (doc_id % 4 into _BPE_PLANT_WORDS) AFTER training — the planted
    words never enter the top-1024 vocabulary (the synthetic corpus
    has ~31 distinct tokens; pytest re-checks), so they exercise the
    apply-time path on words the trainer never saw."""
    idx = (F.col("doc_id") % len(_BPE_PLANT_WORDS)).cast("int") + 1
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" "),
            F.element_at(F.lit(_BPE_PLANT_WORDS), idx),
        ).alias("text"),
    )


def _q_bpe_token_stats_applied(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Apply-time BPE segmentation (round 15, VERDICT r14 #3): the
    learned merge table replayed IN ORDER over EVERY word — planted
    out-of-vocabulary words included — as a chain of 2·k literal
    replace() calls per word (functions/bpe.py:apply_merges_expr),
    replacing the r14 char-count OOV fallback. One corpus scan + one
    doc-keyed aggregate, no joins; the twin re-derives the merge rows
    with the same unrolled trainer CTEs and replays the identical
    replace chain per round. Training sees the UNPLANTED corpus (the
    plant happens after), so the merge table is byte-identical to
    bpe_merges."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        bpe_token_stats_applied,
    )

    merge_rows, _segs = _bpe_cached(spark, sf_dir)
    merges = [(a, b) for _step, a, b, _c in merge_rows]
    docs = _plant_bpe_oov(fan_out_small_scan(load_table(spark, sf_dir, "documents")))
    return bpe_token_stats_applied(docs, merges)


def _sq8_cached(spark: SparkSession, sf_dir: str):
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        sq8_train,
    )

    return cached(
        _dataset_fingerprint(sf_dir, "embeddings") + ("sq8",),
        lambda: sq8_train(
            fan_out_small_scan(load_table(spark, sf_dir, "embeddings")), dim=64
        ),
    )


def _q_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized index build (round 14 — FAISS's
    IndexScalarQuantizer point on the bytes-vs-recall curve): every
    vector affine-coded to one byte per DIMENSION against per-dim
    min/max trained in one bounded aggregate — 64 B/vector between
    the flat float index (512 B) and PQ codes (8 B). Encoding and the
    code-determined norm are floor-form affine arithmetic in
    ascending-dim folds, so the full code table sits under the
    value-hash gate (operators/pq.py:sq8_encode)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        sq8_encode,
    )

    mins, scales = _sq8_cached(spark, sf_dir)
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    return sq8_encode(emb, mins, scales).select(
        "vec_id",
        F.array_join("codes", ",").alias("codes_s"),
        "anorm",
    )


def _q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k served from SQ8 codes (round 14): the brute-force
    scan at 1/8 the bytes — each candidate pays one ascending-dim
    dequantize-and-dot fold against the broadcast query row. Near-
    exact recall is the POINT of the SQ tier (8 bits/dim preserves
    geometry PQ's 1 byte/subspace cannot — recall vs brute force
    pinned in pytest and measured against PQ in the probe); the twin
    restates train/encode/serve with the identical folds."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        sq8_topk,
    )

    mins, scales = _sq8_cached(spark, sf_dir)
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    queries_df = emb.filter(F.col("vec_id") < 5)
    return sq8_topk(
        emb, queries_df, k=3, mins=mins, scales=scales, dim=64
    )


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-class repetition filters (round 13; Rae et al. 2021
    §A1.1 adapted to word-stream docs): per-doc most-frequent-token
    share, duplicate 2/3-gram occurrence fractions, top-2-gram share,
    and the combined pass flag at thresholds that split this corpus
    non-vacuously (0.12 / 0.05 / 0.02). The Spark side is ENTIRELY
    map-side — array_sort + run-length aggregate folds, zero
    exchanges (plan-pinned in tests/test_functions.py): repetition
    filtering at 100 TB is a streamed scan, where the relational
    formulation would shuffle every n-gram twice. The twin uses the
    relational form — same values, different plan
    (functions/text.py:repetition_stats)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.text import (
        repetition_stats,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    st = docs.select(
        "doc_id", repetition_stats(F.col("text")).alias("s")
    ).select("doc_id", "s.*")
    return st.withColumn(
        "repetition_pass",
        (F.col("top_word_frac") <= 0.12)
        & (F.col("dup_2gram_frac") <= 0.05)
        & (F.col("dup_3gram_frac") <= 0.02),
    )


def _q_pq_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k under TRAINED sub-codebooks (round 13, VERDICT r12
    #5): one kmeans_fit Lloyd chain per subspace over the subvector
    slices (operators/pq.py:pq_codebooks_trained) instead of the
    md5-stratified sample rows — the ivf_topk_kmeans pattern at PQ
    grain. Tiny m=2, ksub=4, 2 Lloyd rounds keep the twin's unrolled
    chains affordable; the recall question training actually answers
    (does it lift refined recall at the cheap R<16 shortlist?) is
    measured in the SCALE_PROBE_r13 pq_trained family, where
    production widths run through the Arrow encode."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        pq_codebooks_trained,
        pq_topk,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    cbs = cached(
        _dataset_fingerprint(sf_dir, "embeddings") + ("pqtrain2x4",),
        lambda: pq_codebooks_trained(emb, m=2, ksub=4, dim=64, iterations=2),
    )
    queries_df = emb.filter(F.col("vec_id") < 5)
    return pq_topk(emb, queries_df, k=3, codebooks=cbs)


def _q_ivf_pq_topk_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF-PQ serving path (round 13, VERDICT r12 #1):
    IVF probe (nprobe=4 of 16 lists) → codes-only ADC top-16 shortlist
    → exact cosine rerank of ONLY those 16·n_queries fetched rows →
    top-3. Composes the two stages that existed separately since r12:
    ivf_pq_topk (the filter, whose raw-ADC recall decays 1.0→0.4 from
    8k to 32k rows per SCALE_PROBE_r12) and pq_refine (recall 1.00 at
    every probed scale). The corpus-wide scan stays m bytes/row; the
    dim-wide float walk touches r·n_queries point-lookup rows
    (operators/pq.py:ivf_pq_topk_refined)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        ivf_pq_topk_refined,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    coarse = _coarse_centroids_cached(spark, sf_dir)
    cbs = _pq_codebooks_cached(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return ivf_pq_topk_refined(
        emb, queries_df, k=3, r=16, nprobe=4, codebooks=cbs,
        coarse=coarse, dim=64,
    )


def _q_region_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (10 fixed power-method rounds) over the OD
    region graph — which regions anchor the city's movement. Unlike
    components' data-dependent convergence loop this is a static
    round chain, so it carries a full DuckDB twin (unrolled CTEs)
    under the value-hash gate. Decimal-exact contribution sums +
    per-round 9-dp rounding keep both engines bit-identical (see
    operators/pagerank.py).

    The region graph has ≤ N_REGIONS+1 nodes BY CONSTRUCTION (region
    ids 1..N plus the gap-fill sentinel 0; guide §8, the kmeans
    bounded-driver-fetch budget class), so after the data-scale OD
    aggregation + weight normalization (Spark) the ≤ (N+1)² edge rows
    are metadata — the 10 power rounds fold on the driver
    (operators/graph_bounded.py:pagerank_fold, arithmetic mirrored
    step for step from the DuckDB twin, which verifies bit-identity
    every run)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.graph_bounded import (
        collect_edges_bounded,
        pagerank_fold,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pagerank import (
        normalized_edges,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    edges = normalized_edges(
        od.select(
            F.col("orig").alias("src"), F.col("dest").alias("dst"), "cnt"
        )
    )
    rows = collect_edges_bounded(
        edges, (N_REGIONS + 1) * (N_REGIONS + 1), "src", "dst", "w"
    )
    ranks = pagerank_fold(
        [(r["src"], r["dst"], r["w"]) for r in rows], iterations=10
    )
    return spark.createDataFrame(ranks, "node int, rank double")


def _q_data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style single-pass table profile (batch 4): completeness,
    exact distinct cardinalities, numeric min/max/mean over events,
    long-form (col_name, metric, value). One zero-key aggregate — a
    single combiner row per partition crosses the wire no matter the
    table size (operators/quality.py)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.quality import (
        profile_table,
    )

    ev = load_table(spark, sf_dir, "events")
    return profile_table(
        ev,
        completeness_cols=[
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            "props",
        ],
        distinct_cols=["user_id", "event_type"],
        numeric_cols=["value"],
    )


def _q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted deterministic sampling (batch 4): keep each
    document with probability proportional to its length (rate =
    min(1, n_chars/400)) — the quality/length-weighted corpus
    downsampling recipe, decided by the md5 hash coin so membership is
    a pure function of the row (functions/sampling.py:weighted_keep).
    No RNG anywhere: reproducible across engines, retries and
    partitionings, unlike df.sample(weights=...)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        weighted_keep,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    rate = F.least(
        F.lit(1.0), F.col("n_chars").cast("double") / F.lit(400.0)
    )
    return docs.filter(weighted_keep(F.col("doc_id"), rate)).select(
        "doc_id", "source", "n_chars"
    )


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle (batch 4): users bucketed by
    first-active week, distinct-active counts per week offset,
    retention ratio vs the cohort's offset-0 size
    (operators/cohort.py). Two user-keyed shuffles total."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.cohort import (
        cohort_retention,
    )

    return cohort_retention(load_table(spark, sf_dir, "events"))


def _q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences (batch 4): lag() per (user, ts, event_id) order →
    (prev_type, next_type) counts → row-normalized share. One
    user-keyed window shuffle + one tiny types² aggregate; the share
    divides two exact BIGINTs. The sequence-mining shape (bigram
    counting) that also underlies the n-gram LM statistics a text
    pipeline computes at scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    share_w = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(share_w).cast("double")
        ).alias("share"),
    )


def _q_region_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous weighted label propagation on the OD region graph
    (batch 4): mesoscale community structure beyond components /
    PageRank / triangles. 4 fixed rounds, deterministic (score desc,
    label asc) tie-break; full unrolled DuckDB twin
    (operators/labelprop.py). Guide §8: the hour-keyed OD
    multigraph collapses to ≤ C(N_REGIONS,2) undirected weighted
    edges in Spark (the data-scale aggregate), then the 4 synchronous
    rounds fold on the driver (graph_bounded.label_propagation_fold —
    integer scores, identical tie-break)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.graph_bounded import (
        collect_edges_bounded,
        label_propagation_fold,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.labelprop import (
        undirected_weighted_edges,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    und = undirected_weighted_edges(
        od.select(
            F.col("orig").alias("src"),
            F.col("dest").alias("dst"),
            F.col("cnt").alias("w"),
        )
    )
    rows = collect_edges_bounded(
        und, (N_REGIONS + 1) * (N_REGIONS + 1), "u", "v", "w"
    )
    out = label_propagation_fold(
        [(r["u"], r["v"], r["w"]) for r in rows], rounds=4
    )
    return spark.createDataFrame(out, "node int, community int")


def _q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (batch 4): k=8,
    3 fixed rounds, deterministic smallest-vec_id init. Assignment is
    a MAP-ONLY stage (centroids are k·dim literals — a bounded driver
    fetch per round, the IVF-codebook budget class); the update is one
    k·dim-cell decimal aggregate. Output: final centroids long-form
    with cluster sizes, every coordinate decimal-exact + 9-dp rounded
    on both engines (operators/kmeans.py)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_fit,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double_array(F.col("embedding")).alias("vec")
    )
    cents, assigned = kmeans_fit(emb, k=8, iterations=3)
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("n_vecs"))
    cent_rows = [
        (c, i + 1, x)
        for c, coords in sorted(cents.items())
        for i, x in enumerate(coords)
    ]
    cent_df = spark.createDataFrame(
        cent_rows, "cluster int, dim_idx int, coord double"
    )
    return sizes.join(cent_df, "cluster").select(
        "cluster", "n_vecs", "dim_idx", "coord"
    )


def _q_region_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node directed degree/strength profile of the OD region
    graph (batch 5): out/in neighbor counts (self-loops excluded) and
    total out-flow strength — the quantities the triangle/LPA cost
    models key off (wedge bound, hot-key risk), and the non-vacuous
    formulation on this near-complete 21-node graph (an undirected
    degree HISTOGRAM collapses to one row here). Two aggregates past
    the shared OD pipeline, both map-side combinable."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    # e feeds both the out- and in-side aggregates: checkpoint so the
    # OD pipeline derives once, not twice (the triangles.py lesson)
    e = od.filter(F.col("orig") != F.col("dest")).localCheckpoint(
        eager=True
    )
    outs = e.groupBy(F.col("orig").alias("node")).agg(
        F.countDistinct("dest").alias("out_deg"),
        F.sum("cnt").alias("out_strength"),
    )
    ins = e.groupBy(F.col("dest").alias("node")).agg(
        F.countDistinct("orig").alias("in_deg")
    )
    return outs.join(ins, "node", "full").select(
        "node",
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        F.coalesce("out_strength", F.lit(0)).alias("out_strength"),
    )


def _q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event
    values, α=1/2, in (ts, event_id) order (batch 5). EWMA is a
    sequential recurrence — inexpressible as a window frame — so it
    runs as an ordered ARRAY FOLD: collect_list per user (bounded by
    per-user event counts), sort once, left-fold s ← s/2 + x/2 with
    s₀ = x₀. The DuckDB twin's seedless list_reduce has exactly the
    s₀ = first-element semantics, and both engines evaluate the
    identical `a/2 + x/2` IEEE expression, so the fold is
    bit-reproducible (the label_centroids ordered-fold precedent).
    The non-NULL contract is explicit and symmetric: both engines
    filter value IS NOT NULL before folding (Spark's collect_list
    silently drops NULLs while DuckDB's list() keeps them and
    list_reduce poisons the fold to NULL — the filter makes the two
    agree instead of diverging on NULL-bearing data; quality.py
    treats value as a completeness column, so NULLs are an
    anticipated shape). A user with no non-NULL values is absent
    from both outputs, and the fold's slice sees size ≥ 1 — no
    negative-length slice crash. At 100 TB the shuffle payload is
    (ts, id, value) triples — the same volume a window-function
    formulation would move — and the collect_list buffer (the one
    row-sized object Spark cannot spill) is bounded by
    ``cap_rows_per_key`` keeping each user's LATEST
    ``MAX_SEQ_PER_KEY`` values: a value that many halvings back
    contributes < 2^-65536 ≈ 0, so the truncation is numerically
    inert, and under-cap keys are exactly unchanged (pytest-pinned in
    test_new_query_invariants)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        bounded,
    )

    ev = load_table(spark, sf_dir, "events")
    lst = (
        bounded.cap_rows_per_key(
            ev.filter(F.col("value").isNotNull()),
            ["user_id"],
            ["ts", "event_id"],
            bounded.MAX_SEQ_PER_KEY,
            keep="last",
        )
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("seq")
        )
        .select(
            "user_id",
            F.transform(F.col("seq"), lambda s: s["value"]).alias("vals"),
        )
    )
    fold = F.aggregate(
        F.slice(F.col("vals"), 2, F.size("vals") - 1),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: acc / F.lit(2.0) + x / F.lit(2.0),
    )
    # floor form, not F.round — cross-engine half-boundary hazard
    return lst.select(
        "user_id",
        (F.floor(fold * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "ewma"
        ),
    )


def _q_value_outliers_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 2σ outlier counts WITHOUT a sqrt (batch 5): the
    anomaly-detection shape, made cross-engine-exact by comparing
    squared deviation against 4·variance — (x−μ)² > 4σ² ⇔ |x−μ| > 2σ
    — so no libm sqrt can diverge. μ and E[x²] come from DECIMAL sums
    rounded to 6 dp (both engines embed the same doubles); variance
    and the comparison are then identical IEEE arithmetic. Two passes
    over events (stats, then the broadcast-joined filter) — the
    standard profile→flag pipeline, types-sized dimension."""
    ev = load_table(spark, sf_dir, "events")
    # floor-form rounding (not F.round): these stats feed the outlier
    # COMPARISON, where a one-last-digit cross-engine divergence flips
    # counts — see the module docstring rounding rule
    stats = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        (
            F.floor(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
                / F.count("value").cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mean_v"),
        (
            F.floor(
                F.sum(
                    (F.col("value") * F.col("value")).cast("decimal(28,6)")
                ).cast("double")
                / F.count("value").cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mean_sq"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    var = F.col("mean_sq") - F.col("mean_v") * F.col("mean_v")
    dev = F.col("value") - F.col("mean_v")
    return (
        j.groupBy("event_type", "n", "mean_v", "mean_sq")
        .agg(
            F.sum((dev * dev > F.lit(4.0) * var).cast("int")).alias(
                "n_outliers"
            )
        )
        .select("event_type", "n", "mean_v", "n_outliers")
    )


def _q_embedding_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min-max feature scaling of the embedding corpus
    (batch 5): the normalization pass a training pipeline runs before
    quantization or bucketing. Stats are exact double min/max per
    dimension (one posexplode aggregate, 64 cells); the rescale is a
    broadcast join + identical IEEE (x−min)/(max−min) on both engines
    — no rounding needed anywhere. Output restricted to vec_id < 20
    long-form to keep the driver collect bounded; the scaled column
    itself stays distributed."""
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    cells = emb.select(
        "vec_id", F.posexplode(F.col("vec")).alias("dim0", "x")
    )
    stats = cells.groupBy("dim0").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    return (
        cells.filter(F.col("vec_id") < 20)
        .join(F.broadcast(stats), "dim0")
        .select(
            "vec_id",
            (F.col("dim0") + 1).cast("int").alias("dim_idx"),
            (
                (F.col("x") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
            ).alias("x_norm"),
        )
    )


def _q_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived stopword candidates (batch 5): the 20 tokens
    with the highest document frequency plus their prevalence share —
    how a pipeline derives its own filter lists instead of shipping a
    hard-coded one (the inverse leg of rare_token_stats' TF-IDF
    shuffle shape; the df table is vocabulary-sized, the top-k is a
    global sort of that Zipf-small table)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    n_docs = docs.agg(F.count("*").alias("__nd"))
    types = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tx.tokens(F.col("text")))).alias("tok"),
    )
    df_tab = types.groupBy("tok").agg(F.count("*").alias("df"))
    return (
        df_tab.crossJoin(n_docs)
        .select(
            "tok",
            "df",
            (
                F.col("df").cast("double") / F.col("__nd").cast("double")
            ).alias("df_share"),
        )
        .orderBy(F.col("df").desc(), F.col("tok").asc())
        .limit(20)
    )


def _q_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type paths per user-day (batch 5): the clickstream
    path-mining shape — order each user-day's events, join the type
    sequence into a path string, count identical paths, keep the top
    10 (ties broken on the path string). One user-day window shuffle +
    a paths-sized aggregate; the ordered array fold mirrors DuckDB's
    ordered string_agg exactly (same (ts, event_id) total order). The
    per-user-day collect_list buffer is bounded via
    ``cap_rows_per_key`` (first ``MAX_SEQ_PER_KEY`` events of the
    day — a documented path-prefix truncation for storm keys;
    under-cap keys exactly unchanged, pytest-pinned)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        bounded,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    ev = bounded.cap_rows_per_key(
        ev,
        ["user_id", "day"],
        ["ts", "event_id"],
        bounded.MAX_SEQ_PER_KEY,
        keep="first",
    )
    paths = (
        ev.groupBy("user_id", "day")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("seq")
        )
        .select(
            F.array_join(
                F.transform(F.col("seq"), lambda s: s["event_type"]), ">"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(10)
    )


def _q_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction (batch 5): deterministic
    ramp-signal WAVs (sample i = (doc_id + i) % 256) synthesized and
    landed as a binary column, then parsed back and split into
    complete 50-sample frames with integer energy stats per frame.
    The oracle predicts every (sum, peak) arithmetically from doc_id
    without touching a byte — a mis-read chunk offset, off-by-one
    window bound, or stride bug breaks the hash. Both stages are
    Arrow-batched mapInPandas (binary containers are the one justified
    executor-Python surface)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.multimodal import (
        audio_window_energy,
        synth_wav_ramp,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return audio_window_energy(synth_wav_ramp(docs))


def _q_region_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round BFS hop distances from region 1 over the
    deterministically sparsified OD graph (top-3 out-edges per node —
    the k-NN-graph construction; the raw OD graph is near-complete and
    every distance would be 0/1). 6 relax rounds; full unrolled
    DuckDB twin (operators/bfs.py). Guide §8: the relax loop folds on
    the driver over the ≤ N_REGIONS² collected edge
    rows (integer arithmetic — trivially exact;
    operators/graph_bounded.py:bfs_hops_fold); the data-scale OD
    aggregation and the top-3 sparsification window stay in Spark."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.bfs import (
        topk_out_edges,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.graph_bounded import (
        bfs_hops_fold,
        collect_edges_bounded,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    # od_matrix is hour-keyed — collapse to whole-period totals before
    # ranking, else top-3 ranks per (hour, dest) fragment
    tot = od.groupBy("orig", "dest").agg(F.sum("cnt").alias("w"))
    g = topk_out_edges(
        tot.select(
            F.col("orig").alias("src"),
            F.col("dest").alias("dst"),
            "w",
        ),
        k=3,
    )
    rows = collect_edges_bounded(
        g, (N_REGIONS + 1) * (N_REGIONS + 1), "src", "dst"
    )
    dist = bfs_hops_fold(
        [(r["src"], r["dst"]) for r in rows], source=1, max_hops=6
    )
    return spark.createDataFrame(dist, "node int, hops int")


def _q_user_covisit_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join on a second entity class (batch 5):
    user pairs whose distinct visited-CELL sets (a fine 2000-cell
    grid — the 20-region space is so coarse every user covers it and
    all Jaccards hit 1.0) overlap with Jaccard ≥ 0.3, a threshold
    that keeps ~22% of pairs at every tested sf. The threshold is
    applied in cross-multiplied INTEGER form (10·|∩| ≥ 3·|∪|), so no
    float boundary can flip a pair; the reported jacc is one exact
    IEEE division.

    Routed through ``set_similarity_join`` (similarity.py), which owns
    the regime analysis: this workload is DENSE (qualifying pairs are
    ~20% of ALL user pairs, so no candidate filter can prune — the
    df-ranked prefix path of the same operator was measured at 4.7 s
    here because every pair shares a rare cell),
    and the cell domain is bounded (pmod 2000), so the query selects
    the bitmap path: per-user 32-word bitmaps, broadcast pair
    enumeration with the integer size-ratio prune, |∩| by
    bit_count(and) lanes — 1.4 s at sf0.1, exact. All three exact
    paths (bitmap / prefix / single join) produce identical pair sets,
    pytest-pinned.
    Above the dense-regime handoff
    (set_similarity_join_auto, round 7) the library routes this
    workload to MinHash-LSH instead — registered separately as
    `user_covisit_lsh` with its own oracle; THIS query stays on the
    exact path by construction (path pinned in tests/test_plans.py)
    so its oracle row remains exact-vs-exact."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join,
    )

    ev = load_table(spark, sf_dir, "events")
    cells = 2000
    sets = ev.select(
        "user_id",
        F.pmod(F.floor(F.col("value")).cast("long"), F.lit(cells)).alias(
            "cell"
        ),
    ).distinct()
    pairs = set_similarity_join(
        sets,
        "user_id",
        "cell",
        threshold_num=3,
        threshold_den=10,
        dense_bitmap_domain=cells,
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    return pairs.select(
        F.col("key_a").alias("u1"),
        F.col("key_b").alias("u2"),
        "n_shared",
        (F.col("n_shared").cast("double") / union_sz.cast("double")).alias(
            "jacc"
        ),
    )


def _covisit_lsh_query(
    spark: SparkSession, sf_dir: str, k: int, bands: int
) -> DataFrame:
    """ONE covisit-LSH definition shared by `user_covisit_lsh` (the
    midpoint 16/8 banding) and `user_covisit_lsh_t90` (the
    choose_lsh_params contract banding): the sets construction, the
    3/10 threshold, the dense-bitmap domain, the materialize contract,
    and the output projection live here exactly once — a tweak to the
    cell hashing cannot silently diverge the siblings (their oracles
    are generated from the same (k, bands) via
    _covisit_lsh_oracle_params)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join_lsh,
    )

    ev = load_table(spark, sf_dir, "events")
    cells = 2000
    sets = ev.select(
        "user_id",
        F.pmod(F.floor(F.col("value")).cast("long"), F.lit(cells)).alias(
            "cell"
        ),
    ).distinct()
    pairs = set_similarity_join_lsh(
        sets,
        "user_id",
        "cell",
        threshold_num=3,
        threshold_den=10,
        k=k,
        bands=bands,
        dense_bitmap_domain=cells,
        # fixed parameterization → one bounded CacheManager entry,
        # reused across invocations (round-8 materialize contract)
        materialize="persist",
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    return pairs.select(
        F.col("key_a").alias("u1"),
        F.col("key_b").alias("u2"),
        "n_shared",
        (F.col("n_shared").cast("double") / union_sz.cast("double")).alias(
            "jacc"
        ),
    )


def _q_user_covisit_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH set-similarity join on the covisit workload
    (batch 27) — the dense-regime escape hatch that
    ``set_similarity_join_auto`` routes to above the handoff
    (VERDICT r6 #1), registered as its own oracle-paired query so the
    approximation itself is engine-differentially checked: the oracle
    mirrors the k=16 min-md5 signatures, the 8×2 banding, the
    (band, band_hash) candidate equi-join with the integer size-ratio
    prune, and the EXACT verification — so both engines must agree on
    every candidate AND its exact (n_shared, sz, jacc). Output is a
    strict subset of user_covisit_jaccard's pairs (no false positives
    by construction; misses only where no band agrees —
    P = 1−(1−J²)^8). Scale shape: signatures are one map-side-combined
    exchange on user; candidates come from a hash equi-join on 32-char
    band hashes — never the Ω(U²) pair loop the exact paths need in
    this regime (measured, SCALE_PROBE_r7 setsim family). Identical
    SETS are collapsed to one representative before banding
    (collapse_identical, late round 7): on the duplicated 16× probe
    corpus that is 8.7× (128 → 15 s, bit-identical pairs); on this
    duplicate-free corpus it costs a ~1.2 s constant — the price of
    being structurally immune to the Σg² band-join blowup."""
    return _covisit_lsh_query(spark, sf_dir, k=16, bands=8)


def _q_user_covisit_lsh_t90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-CONTRACT LSH set-similarity join (batch 28, round 8,
    VERDICT r7 #1): the same covisit workload as `user_covisit_lsh`,
    but banded by :func:`choose_lsh_params` for an explicit guarantee —
    P(candidate) ≥ 0.9 for EVERY qualifying pair (margin 0: the floor
    holds at the threshold itself, and P is monotone in J above it),
    instead of the midpoint banding's ~0.5 at the boundary. At the
    0.3 threshold that selection is k=50, 25 bands × 2 rows
    (pinned in tests/test_plans.py against the library math); the
    signature is 3.1× wider than the default 16 — the measured,
    documented price of the contract. The oracle mirrors the FULL
    contract banding parametrically (50 min-md5 signatures, 25 band
    hashes, candidate equi-join + integer size prune, exact
    verification), so the guarantee's mechanism — not just its output
    — is engine-differentially checked."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        choose_lsh_params,
    )

    k, bands = choose_lsh_params(3, 10, target_recall=0.9)
    return _covisit_lsh_query(spark, sf_dir, k=k, bands=bands)


def _q_round_trip_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal motif mining (batch 5): per day, how many users make
    an A→B→A round trip (two consecutive region changes returning to
    the origin) in their hourly position sequence. Double lag over
    the (user) window — one shuffle — then a days-sized aggregate;
    the region-change filter removes the stay-in-place ticks first so
    consecutive means consecutive *moves*."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    w = Window.partitionBy("user_id").orderBy("hour")
    moves = (
        pos.withColumn("prev_r", F.lag("region_id").over(w))
        .filter(
            F.col("prev_r").isNull()
            | (F.col("prev_r") != F.col("region_id"))
        )
        .drop("prev_r")
    )
    w2 = Window.partitionBy("user_id").orderBy("hour")
    pat = (
        moves.withColumn("r1", F.lag("region_id", 2).over(w2))
        .withColumn("r2", F.lag("region_id", 1).over(w2))
        .filter(
            (F.col("r1") == F.col("region_id"))
            & (F.col("r2") != F.col("region_id"))
        )
        .select(
            F.col("hour").cast("date").alias("day"),
            "user_id",
        )
        .distinct()
    )
    return pat.groupBy("day").agg(F.count("*").alias("n_round_trip_users"))


def _q_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation discovery (batch 5): top-20 adjacent token bigrams
    by LIFT = n_xy·N / (n_x·n_y) — the PMI ranking without the log
    (monotone transform, so the ranking is identical and the score
    stays one exact IEEE division of exact BIGINT products; a log
    would import libm 1-ulp divergence for nothing). Bigrams come
    from arrays_zip over the in-order token array (no shuffle until
    the count); unigram totals join back broadcast (vocabulary-sized,
    Zipf ≪ corpus); min support 5 kills noise pairs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tx.tokens(F.col("text")).alias("t"))
    # guard size ≥ 2 BEFORE the slices (mirrors the oracle's
    # WHERE len(t) >= 2): an empty/one-token doc would otherwise hand
    # F.slice a negative length and raise INVALID_PARAMETER_VALUE —
    # unigram counts below stay over the UNGUARDED toks, as in the
    # oracle
    bigrams = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("t"), 1, F.size("t") - 1).alias("w1"),
                    F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    bg_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("n_xy"))
    uni = (
        toks.select(F.explode(F.col("t")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    n_total = bigrams.agg(F.count("*").alias("__n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_y"))
    return (
        bg_counts.filter(F.col("n_xy") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(n_total)
        .select(
            "w1",
            "w2",
            "n_xy",
            (
                (F.col("n_xy") * F.col("__n")).cast("double")
                / (F.col("n_x") * F.col("n_y")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(20)
    )


def _q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-shuffle order (batch 5): rank
    every document by md5('epoch0' ‖ doc_id) — the reproducible
    corpus shuffle a pretraining run needs (same order on any engine,
    any partitioning, any retry). Ranking goes through
    ``mint_dense_ids`` rather than a bare global window: the hash is
    unique per doc so dense ids ARE the shuffle rank, and the
    operator auto-switches to its two-phase path above 100k rows —
    no SinglePartition stage at scale (the surrogate-key lesson,
    region_build.py)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.region_build import (
        LARGE_DIM_THRESHOLD,
        mint_dense_ids,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    h = F.md5(F.concat(F.lit("epoch0"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", h.alias("__h"))
    ranked = mint_dense_ids(
        keyed,
        ["__h"],
        "shuffle_rank",
        large=keyed.count() > LARGE_DIM_THRESHOLD,
    )
    return ranked.select(
        "doc_id", F.col("shuffle_rank").cast("int").alias("shuffle_rank")
    )


def _q_split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split-leakage audit (batch 5): MinHash-LSH near-dup
    candidate pairs whose two members land in DIFFERENT hash-assigned
    splits — exactly the contamination a leakage audit must surface
    before an eval set is trusted (a near-duplicate of a training doc
    sitting in val/test). Pure composition of the existing operators
    (minhash_lsh_pairs ∘ split_assign), which is the point: the
    engine's curation pieces compose relationally. Split sides are
    broadcast-sized key→split maps; the pair table never widens."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
        split_assign,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    pairs = ops.minhash_lsh_pairs(docs, k=8, bands=4, n=3)
    splits = docs.select(
        "doc_id",
        split_assign(
            F.col("doc_id"),
            [("train", 0.9), ("val", 0.05), ("test", 0.05)],
        ).alias("split"),
    )
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
    )


# --------------------------------------------------------------------------
# batch 6 (round 5): sparse matmul / robust anomaly / changepoint /
# seasonality / basket mining
# --------------------------------------------------------------------------


def _q_od_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop OD flows — SPARSE MATRIX MULTIPLY as a join+aggregate
    (batch 6): M²[o,d] = Σ_m M[o,m]·M[m,d] over whole-period OD
    totals, excluding self-loops. The linear-algebra shape the
    reference drives through driver-side numpy/CSR (cal_mobility_
    matrix.py) re-expressed distributively: one equi-join on the
    middle vertex + one groupBy — the join only materializes nonzero
    products, so the cost is Σ_m indeg(m)·outdeg(m) (the sparse
    matmul bound), never |V|³. Products and sums are exact BIGINTs.
    At 100 TB the middle-vertex join hot-keys on hub nodes — salt the
    middle key (salted_type_counts' recipe) when deg(m) skew demands;
    the 20-region graph needs none."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    tot = (
        od.filter(F.col("orig") != F.col("dest"))
        .groupBy("orig", "dest")
        .agg(F.sum("cnt").alias("w"))
        .localCheckpoint(eager=True)  # feeds both matmul legs
    )
    a = tot.select(
        F.col("orig").alias("o"), F.col("dest").alias("m"),
        F.col("w").alias("w1"),
    )
    b = tot.select(
        F.col("orig").alias("m"), F.col("dest").alias("d"),
        F.col("w").alias("w2"),
    )
    return (
        a.join(b, "m")
        .groupBy("o", "d")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("flow2"))
    )


def _q_mad_value_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly counts per event type via MEDIAN + MAD (batch
    6): the outlier detector that survives the heavy tails that wreck
    mean/σ (value_outliers_by_type is the 2σ twin). Exact,
    engine-portable medians: rank-based — row_number over (value,
    event_id) against count n picks the middle one/two rows, median =
    avg of those values ((a+b)/2: one identical IEEE op) — NOT
    percentile functions, whose interpolation rules differ across
    engines. Same rank trick again on |v − med| for the MAD. Anomaly
    gate |v − med| > 3·MAD compares identical doubles. Three passes
    over events (median, MAD, flag) — the price of exact medians;
    approximate at scale with KLL (value_percentiles_approx) and keep
    this as the ground-truth gate."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type", "value", "event_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    lo = F.floor((F.col("n") + 1) / 2)  # integral double == int rn
    hi = F.floor((F.col("n") + 2) / 2)
    med = (
        ranked.filter((F.col("rn") == lo) | (F.col("rn") == hi))
        .groupBy("event_type", "n")
        .agg(F.avg("value").alias("med"))
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "event_id", "n", "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    wd = Window.partitionBy("event_type").orderBy("dev", "event_id")
    mad = (
        dev.select(
            "event_type", "dev", F.row_number().over(wd).alias("rn"), "n"
        )
        .filter((F.col("rn") == lo) | (F.col("rn") == hi))
        .groupBy("event_type")
        .agg(F.avg("dev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "med", "mad")
        .agg(
            F.sum(
                (F.col("dev") > F.lit(3.0) * F.col("mad")).cast("int")
            ).alias("n_anomalies")
        )
        .select("event_type", "n", "med", "mad", "n_anomalies")
    )


def _q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type (batch 6): the point where the
    cumulative deviation from the series mean peaks — the standard
    mean-shift detector. ALL-INTEGER cusum: values land as
    v6 = floor(v·10⁶ + 0.5) BIGINTs (the proven cross-engine floor
    form), μ6 = integer-div mean, running Σ(v6 − μ6) is an exact
    integer under ANY window association order — no float windowed-sum
    divergence (DuckDB's segment-tree windowed double-sum would not
    match Spark's running fold). Changepoint = earliest (ts, event_id)
    maximizing |cusum| (integer comparisons); only the reported
    magnitude becomes a double, by one exact division."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v6 = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    base = ev.select("event_type", "ts", "event_id", v6.alias("v6"))
    # floor(double-div) then cast: floor's result is integral in
    # double, so the cast is exact on BOTH engines — a bare
    # CAST(sum/count AS BIGINT) truncates in Spark but rounds in
    # DuckDB
    stats = base.groupBy("event_type").agg(
        F.floor(
            F.sum("v6").cast("double") / F.count("*").cast("double")
        ).cast("long").alias("mu6"),
        F.count("*").alias("n"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = base.join(F.broadcast(stats), "event_type").withColumn(
        "cusum6", F.sum(F.col("v6") - F.col("mu6")).over(w)
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum6")).desc(), F.col("ts").asc(),
        F.col("event_id").asc(),
    )
    return (
        cus.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            "n",
            F.col("ts").alias("change_ts"),
            "event_id",
            (F.abs(F.col("cusum6")) / F.lit(1e6)).alias("peak_dev"),
        )
    )


def _q_seasonal_hod_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal index per event type (batch 6): the
    seasonal-naive decomposition a monitoring pipeline runs —
    index(h) = mean(value | hod=h) / mean(value), both means in the
    DECIMAL floor-rounded 6-dp form (identical doubles on both
    engines), the index one exact IEEE division. One groupBy over
    (type, hod) plus a types-sized broadcast join back."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )

    def _mean6(col, cnt):
        return F.floor(
            F.sum(F.col(col).cast("decimal(28,6)")).cast("double")
            / cnt.cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ) / F.lit(1e6)

    hod = ev.groupBy(
        "event_type", F.hour("ts").alias("hod")
    ).agg(
        F.count("*").alias("n"),
        _mean6("value", F.count("*")).alias("hod_mean"),
    )
    overall = ev.groupBy("event_type").agg(
        _mean6("value", F.count("*")).alias("type_mean")
    )
    return hod.join(F.broadcast(overall), "event_type").select(
        "event_type",
        "hod",
        "n",
        "hod_mean",
        (F.col("hod_mean") / F.col("type_mean")).alias("seasonal_idx"),
    )


def _q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 2-itemsets over (user, day) baskets (batch 6): the
    A-priori/market-basket shape — which event types co-occur in the
    same user-day beyond chance. Baskets = distinct (user, day, type);
    pairs materialize via basket self-join on types a < b (bounded:
    |types|² per basket, types is a small domain); support ≥ 5; lift
    kept as exact cross-multiplied BIGINTs on both sides of the
    reported division (the collocations_lift rule: no logs, one IEEE
    division at the end)."""
    ev = load_table(spark, sf_dir, "events")
    basket = (
        ev.select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            "event_type",
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds pair join twice + counts
    )
    n_baskets = basket.select("user_id", "day").distinct().count()
    item_n = basket.groupBy("event_type").agg(
        F.count("*").alias("n_item")
    )
    a = basket.select(
        "user_id", "day", F.col("event_type").alias("t1")
    )
    b = basket.select(
        "user_id", "day", F.col("event_type").alias("t2")
    )
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 5)
    )
    i1 = item_n.select(
        F.col("event_type").alias("t1"), F.col("n_item").alias("n1")
    )
    i2 = item_n.select(
        F.col("event_type").alias("t2"), F.col("n_item").alias("n2")
    )
    return (
        pairs.join(F.broadcast(i1), "t1")
        .join(F.broadcast(i2), "t2")
        .select(
            "t1",
            "t2",
            "support",
            (
                (F.col("support") * F.lit(n_baskets)).cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
            ).alias("lift"),
        )
    )


def _q_region_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (batch 6): the 4-core of the symmetrized
    top-3-sparsified OD graph (the bfs.topk_out_edges k-NN-graph
    construction —
    the raw OD graph is near-complete and every node would trivially
    survive). 6 fixed peel rounds (converged for this graph: peeling
    is monotone and 6 exceeds the longest peel chain, pytest-pinned);
    full unrolled DuckDB twin (operators/kcore.py). Guide §8: the 6
    peel rounds fold on the driver over the ≤ 2·N_REGIONS²
    collected symmetrized edge rows (integer arithmetic;
    graph_bounded.k_core_fold); the OD aggregation, top-3 window and
    symmetrize stay in Spark."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.bfs import (
        topk_out_edges,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.graph_bounded import (
        collect_edges_bounded,
        k_core_fold,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kcore import (
        symmetrize,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    tot = od.groupBy("orig", "dest").agg(F.sum("cnt").alias("w"))
    g = topk_out_edges(
        tot.select(
            F.col("orig").alias("src"), F.col("dest").alias("dst"), "w"
        ),
        k=3,
    )
    rows = collect_edges_bounded(
        symmetrize(g), 2 * (N_REGIONS + 1) * (N_REGIONS + 1), "src", "dst"
    )
    out = k_core_fold([(r["src"], r["dst"]) for r in rows], k=4, rounds=6)
    return spark.createDataFrame(out, "node int, deg bigint")


def _q_event_stay_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL (range) join without a range predicate (batch 6):
    count each user's events inside each of their stay segments.
    A naive ``JOIN ON user AND ts BETWEEN start AND end`` degenerates
    to per-user nested loops; here the non-overlapping-intervals
    property turns it into SORT-MERGE ALIGNMENT — union segment-start
    markers with events on the (user, hour) axis, one window pass
    takes each event's last-seen segment start (markers sort before
    events within the tick), then a single equi-join on
    (user, stay_start) recovers the segment and an end-bound filter
    validates membership. One user-keyed window + one hash join —
    no O(n·m) predicate evaluation at any scale. The oracle states
    the same semantics as the naive BETWEEN join (the readable twin);
    both produce identical rows, which is the point."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.stays import (
        stay_segments,
    )

    pings = events_as_pings(spark, sf_dir, N_REGIONS)
    pos = ops.hourly_positions(pings)
    segs = stay_segments(pos).localCheckpoint(eager=True)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", "ts").alias("t")
    )
    marks = segs.select(
        "user_id",
        F.col("stay_start").alias("t"),
        F.col("stay_start").alias("seg_start"),
        F.lit(0).alias("is_event"),
    )
    evs = ev.select(
        "user_id",
        "t",
        F.lit(None).cast("timestamp").alias("seg_start"),
        F.lit(1).alias("is_event"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    aligned = (
        marks.unionByName(evs)
        .withColumn(
            "seg", F.last("seg_start", ignorenulls=True).over(w)
        )
        .filter(F.col("is_event") == 1)
    )
    counted = (
        aligned.join(
            segs.select(
                "user_id",
                F.col("stay_start").alias("seg"),
                "stay_end",
                "region_id",
            ),
            ["user_id", "seg"],
        )
        .filter(F.col("t") <= F.col("stay_end"))
        .groupBy(
            "user_id",
            "region_id",
            F.col("seg").alias("stay_start"),
            "stay_end",
        )
        .agg(F.count("*").alias("n_events"))
    )
    return counted


def _q_levenshtein_near_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-key pairs (batch 6): part names within the
    same brand at levenshtein ≤ 2 — the typo/variant entity-resolution
    shape (the curation-stack analogue of near-dup docs for SHORT keys
    where shingling is meaningless). Brand blocking bounds the
    quadratic exactly like LSH bands bound document pairs; cross-brand
    near-keys are out of contract (the standard blocking trade,
    documented).

    DICTIONARY-ENCODED evaluation (measured 8.2 s → 0.6 s at sf0.1):
    the DP runs on the DISTINCT NAME domain only — name-pair distances
    (length-difference ≤ 2 exact prune + Spark 4's THRESHOLDED banded
    levenshtein, O(n·k) with early −1 exit) build a small close-pair
    dictionary that broadcasts; part pairs then materialize through
    two hash joins with zero per-row string DP. Row-level joins never
    evaluate an expensive function the value domain already answered —
    the dictionary-encode→compute→decode rule, applied at the logical
    plan level. Exactness unchanged (same 220 542 pairs at sf0.1); the
    oracle keeps the naive per-pair form as the readable twin."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_name"
    )
    names = part.select(F.col("p_name").alias("n")).distinct()
    n1 = names.select(F.col("n").alias("n_from"))
    n2 = names.select(F.col("n").alias("n_to"))
    close = (
        n1.join(
            n2,
            (F.col("n_from") < F.col("n_to"))
            & (
                F.abs(F.length("n_from") - F.length("n_to")) <= 2
            ),
        )
        .withColumn("dist", F.levenshtein("n_from", "n_to", 2))
        .filter(F.col("dist") >= 0)
    )
    sym = (
        close.unionByName(
            close.select(
                F.col("n_to").alias("n_from"),
                F.col("n_from").alias("n_to"),
                "dist",
            )
        ).unionByName(
            names.select(
                F.col("n").alias("n_from"),
                F.col("n").alias("n_to"),
                F.lit(0).alias("dist"),
            )
        )
    )
    p1 = part.select(
        F.col("p_brand").alias("b"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("n_from"),
    )
    p2 = part.select(
        F.col("p_brand").alias("b2"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("n_to2"),
    )
    return (
        p1.join(F.broadcast(sym), "n_from")
        .join(
            p2,
            (F.col("b") == F.col("b2"))
            & (F.col("n_to") == F.col("n_to2"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .select(
            F.col("b").alias("p_brand"),
            "key_a",
            "key_b",
            F.col("n_from").alias("name_a"),
            F.col("n_to2").alias("name_b"),
            "dist",
        )
    )


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking (batch 6): the length-normalized
    retrieval scorer (k1=1.2, b=0.75) that supersedes tfidf_search's
    raw tf·idf — same fixed 3-term query, same fixed per-term fold
    order (per-term weights pivot to columns and add in list order;
    a bare sum(w) would fold in partition order and drift
    cross-engine). idf = ln(1 + (N − df + 0.5)/(df + 0.5)): the
    log's argument is built from exact integers, the doc-length
    norm divides by the floor-rounded 6-dp average length, and the
    final score rounds to 6 (the tfidf_search libm contract). One
    tokenize pass feeds dl and the term postings."""
    docs = load_table(spark, sf_dir, "documents")
    terms = ["merge", "spark", "window"]
    k1, b = 1.2, 0.75
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok")
    ).localCheckpoint(eager=True)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_and_avg = dl.agg(
        F.count("*").alias("n"),
        (
            F.floor(
                F.sum("dl").cast("double")
                / F.count("*").cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_ = (
        toks.filter(F.col("tok").isin(*terms))
        .groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (
            F.col("n").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    wexpr = (
        idf
        * F.col("tf").cast("double")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf").cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b)
                * F.col("dl").cast("double")
                / F.col("avgdl")
            )
        )
    )
    per_term = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_and_avg))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("tok") == t, wexpr)).alias(f"w_{t}")
                for t in terms
            ]
        )
    )
    score = None
    for t in terms:
        c = F.coalesce(F.col(f"w_{t}"), F.lit(0.0))
        score = c if score is None else score + c
    return (
        per_term.select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


def _q_longest_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest same-type streak per user (batch 7): gaps-and-islands
    on the event sequence — rn_global − rn_by_type is constant within
    a run of equal types (both row_numbers share the user exchange),
    one groupBy sizes the islands, a (len desc, type asc, start asc)
    rank picks each user's longest with a total-order tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    isl = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (
            F.row_number().over(w_all) - F.row_number().over(w_typ)
        ).alias("island"),
    )
    runs = isl.groupBy("user_id", "event_type", "island").agg(
        F.count("*").alias("len"),
        F.min("ts").alias("streak_start"),
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(),
        F.col("event_type").asc(),
        F.col("streak_start").asc(),
    )
    return (
        runs.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_type", "len", "streak_start")
    )


def _q_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (batch 7): the
    sliding-window COUNT DISTINCT — the aggregate that does NOT
    decompose into window frames (distinct is not subtractable). The
    scale plan replaces the oracle's range join (days ⋈ activity ON
    day BETWEEN d−6 AND d — per-day re-scans) with a map-side
    EXPLODE: each distinct (user, day) emits its 7 covered target
    days, one distinct collapses user-level duplicates, one count per
    day — 7× linear work, two key-partitioned exchanges, no range
    predicate. Target days beyond the observed span are semi-joined
    away so both engines agree on the day spine."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    days = act.select("day").distinct()
    covered = act.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6)
            )
        ).alias("day"),
    ).distinct()
    return (
        covered.join(days, "day", "semi")
        .groupBy("day")
        .agg(F.count("*").alias("active_7d"))
    )


def _q_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion labels (batch 7): for every click,
    seconds until the user's next purchase STRICTLY LATER in the
    (ts, event_id) total order — the label-generation pass a training
    pipeline runs over clickstreams. One user-keyed window ordered
    DESC with a 1-PRECEDING frame: the running conditional min over
    preceding rows is exactly the future-purchase minimum, and the
    exclusive frame pins the strictness (a purchase tied on ts with a
    smaller event_id does not convert the click). Epoch-second BIGINT
    difference — exact."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.min(
        F.when(
            F.col("event_type") == "purchase",
            F.struct("ts", "event_id"),
        )
    ).over(w)
    return (
        ev.withColumn("np", nxt)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            "event_id",
            "ts",
            (
                F.unix_timestamp(F.col("np.ts"))
                - F.unix_timestamp(F.col("ts"))
            ).alias("secs_to_purchase"),
        )
    )


def _q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution (batch 7): each purchase attributes to
    the user's EARLIEST click in the trailing 24 h window — the RANGE
    frame (interval window over event time) the ROWS-frame queries
    don't exercise. Epoch seconds key the range so both engines share
    integer frame bounds; the conditional min over a
    (−86 400 s, 0] range frame picks the click, struct-min tiebreak on
    event_id. Purchases with no click in range keep NULLs (left
    semantics)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-86400, 0)
    )
    first_click = F.min(
        F.when(
            F.col("event_type") == "click", F.struct("ts", "event_id")
        )
    ).over(w)
    return (
        ev.withColumn("fc", first_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("fc.ts").alias("first_click_ts"),
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.col("fc.ts"))
            ).alias("latency_s"),
        )
    )


def _q_quantile_normalize_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension quantile normalization (batch 7): each embedding
    cell becomes its within-dimension quantile rank (rn − 0.5)/n —
    the rank-based feature transform that is distribution-free and
    engine-exact (row_number with a vec_id tiebreak, one integer-built
    division; no interpolation semantics to disagree on). posexplode →
    64 dimension partitions; output bounded to the first 8 dimensions
    to keep the hash-compare surface proportionate."""
    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    cells = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    ).filter(F.col("pos") < 8)
    w = Window.partitionBy("pos").orderBy("x", "vec_id")
    n = Window.partitionBy("pos")
    return cells.select(
        "vec_id",
        "pos",
        (
            (F.row_number().over(w).cast("double") - F.lit(0.5))
            / F.count("*").over(n).cast("double")
        ).alias("q"),
    )


def _q_random_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over the region graph (batch
    8): the node2vec/DeepWalk TRAINING-DATA GENERATION pass — one
    3-step walk per start node on the top-3-sparsified OD graph, the
    walk corpus a graph-embedding trainer consumes. "Random" is the
    md5 coin (the sampling.py contract): at step s from node u the
    walk takes neighbor rank 1 + (hex8(md5('walk:start:s:u')) mod
    deg(u)) — same walks on any engine, any partitioning, any retry,
    which is what makes a walk corpus reproducible training data.
    Each step is one hash join against the ranked edge list; 3
    unrolled steps, fully joined (no iteration state)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.bfs import (
        topk_out_edges,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    tot = od.groupBy("orig", "dest").agg(F.sum("cnt").alias("w"))
    ranked = topk_out_edges(
        tot.select(
            F.col("orig").alias("src"), F.col("dest").alias("dst"), "w"
        ),
        k=3,
    )
    w_rank = Window.partitionBy("src").orderBy("dst")
    edges = (
        ranked.withColumn("rn", F.row_number().over(w_rank))
        .withColumn(
            "deg", F.count("*").over(Window.partitionBy("src"))
        )
        .localCheckpoint(eager=True)
    )

    def coin(start, step, u):
        key = F.concat(
            F.lit("walk:"),
            start.cast("string"),
            F.lit(":"),
            F.lit(str(step)),
            F.lit(":"),
            u.cast("string"),
        )
        return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")

    walk = edges.select(F.col("src").alias("start")).distinct().select(
        "start", F.lit(0).alias("step"), F.col("start").alias("node")
    )
    frontier = walk
    out = [walk]
    for step in (1, 2, 3):
        pick = 1 + F.pmod(
            coin(F.col("start"), step, F.col("node")), F.col("deg")
        )
        frontier = (
            frontier.join(
                edges, frontier["node"] == edges["src"], "inner"
            )
            .filter(F.col("rn") == pick)
            .select(
                "start",
                F.lit(step).alias("step"),
                F.col("dst").alias("node"),
            )
        )
        out.append(frontier)
    res = out[0]
    for f in out[1:]:
        res = res.unionByName(f)
    return res


def _q_concurrent_stays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval aggregation (batch 8): how many stays are
    simultaneously active per region at each change point — the
    interval-stabbing COUNT answered WITHOUT an interval join: each
    stay emits +1 at stay_start and −1 at stay_end + 1 h, deltas
    pre-aggregate per (region, hour) (map-combinable), and a running
    sum per region over the hour order is the active count. One
    region-keyed window, payload = change points, never
    stays × hours."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.stays import (
        stay_segments,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    segs = stay_segments(pos)
    deltas = (
        segs.select(
            "region_id",
            F.col("stay_start").alias("hour"),
            F.lit(1).alias("d"),
        )
        .unionByName(
            segs.select(
                "region_id",
                (F.col("stay_end") + F.expr("INTERVAL 1 HOUR")).alias(
                    "hour"
                ),
                F.lit(-1).alias("d"),
            )
        )
        .groupBy("region_id", "hour")
        .agg(F.sum("d").alias("delta"))
    )
    w = (
        Window.partitionBy("region_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return deltas.select(
        "region_id",
        "hour",
        F.sum("delta").over(w).alias("n_active"),
    )


def _q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics per event type (batch 8): the
    heavy-hitter report a 100 TB operator consults before choosing a
    salting strategy — per type: distinct users, events, the top-1
    key's share, and the GINI coefficient of the per-user count
    distribution. Gini = Σ(2·rn − n − 1)·cnt / (n·Σcnt) over counts
    ascending: an all-BIGINT numerator and denominator (tie order
    cannot change the sum — equal counts swap equal terms), ONE
    double division at the end. Two key-partitioned aggregates + one
    types-sized window pass."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("cnt", "user_id")
    wt = Window.partitionBy("event_type")
    ranked = per_user.select(
        "event_type",
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wt).alias("n_users"),
        F.sum("cnt").over(wt).alias("n_events"),
        F.max("cnt").over(wt).alias("max_cnt"),
    )
    return (
        ranked.groupBy("event_type", "n_users", "n_events", "max_cnt")
        .agg(
            F.sum(
                (2 * F.col("rn") - F.col("n_users") - 1) * F.col("cnt")
            ).alias("gnum")
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            (
                F.col("max_cnt").cast("double")
                / F.col("n_events").cast("double")
            ).alias("top1_share"),
            (
                F.col("gnum").cast("double")
                / (F.col("n_users") * F.col("n_events")).cast("double")
            ).alias("gini"),
        )
    )


def _q_stratified_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified EXACT-proportion split (batch 8): within each
    source stratum, rank docs by the md5 coin and cut at
    floor(9n/10) / floor(19n/20) — train/val/test with exact
    per-stratum sizes (the hash-coin split `corpus_split_counts`
    only hits proportions in expectation; a stratified eval set
    needs them exact). Integer cuts, md5 rank with doc_id tiebreak —
    reproducible on any engine. One stratum-keyed window + one
    aggregate."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    wn = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    split = (
        F.when(F.col("rn") <= F.floor(F.col("n") * 9 / 10), "train")
        .when(F.col("rn") <= F.floor(F.col("n") * 19 / 20), "val")
        .otherwise("test")
    )
    return (
        ranked.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


def _q_dense_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-based density clustering (batch 8): the GRID-DBSCAN
    shape — the spatial clustering pass the reference's subarea
    analysis gestures at, made distributive. Events land on a 60×60
    integer grid (both coordinates exact double→floor→pmod
    derivations), cells with ≥ 3 distinct users are DENSE, dense
    cells 8-neighbor-adjacent merge into clusters via the pointer-
    jumping connected components (components.py — O(log d) rounds).
    No pairwise point distances anywhere: density is a groupBy,
    adjacency is an equi-join on neighbor cell keys (explode of the
    8 offsets on the dense side only), exactly how DBSCAN scales to
    100 TB (grid first, merge second). Isolated dense cells keep
    their own key as cluster id. Oracle: recursive-CTE closure, the
    near_dup_clusters pattern.

    Round 16 (guide §8 "decide with small rows"): the merge is a
    BOUNDED-DOMAIN closure — the grid is 60×60 by construction, so
    the adjacency table is ≤ 3600·8/2 rows REGARDLESS of data
    volume. Its min-label closure runs as driver-side union-find
    (components.connected_components_bounded, codebook-sized
    collect) instead of O(log d) full shuffle rounds with a driver
    barrier each (the sf0.1 grid is 2640/3600 dense → giant
    components → ~7 pointer-jump rounds for what is metadata).
    Labels identical (pinned in pytest); at any scale the only
    data-sized work is the density aggregate."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        connected_components_bounded,
    )

    ev = load_table(spark, sf_dir, "events")
    g = 60
    pts = ev.select(
        "user_id",
        F.pmod(F.floor(F.col("value")).cast("long"), F.lit(g)).alias(
            "cx"
        ),
        F.pmod(
            F.floor(F.col("value") * F.lit(7919.0)).cast("long"),
            F.lit(g),
        ).alias("cy"),
    )
    dense = (
        pts.groupBy("cx", "cy")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .filter(F.col("n_users") >= 3)
        .withColumn("cell", F.col("cx") * g + F.col("cy"))
        .localCheckpoint(eager=True)
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    probe = dense.select(
        "cell", "cx", "cy", F.explode(offsets).alias("o")
    ).select(
        F.col("cell").alias("cell_a"),
        (
            (F.col("cx") + F.col("o.dx")) * g + F.col("cy") + F.col("o.dy")
        ).alias("cell_b"),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < g)
        & (F.col("ny") >= 0) & (F.col("ny") < g)
    )
    pairs = probe.join(
        dense.select(F.col("cell").alias("cell_b")), "cell_b"
    ).filter(F.col("cell_a") < F.col("cell_b")).select("cell_a", "cell_b")
    # domain bound: g*g cells x 8 neighbors / 2 (unordered) — the
    # grid's geometry, not the data, caps the pair table
    cc = connected_components_bounded(
        pairs, bound=g * g * 4, a_col="cell_a", b_col="cell_b"
    )
    labeled = dense.join(
        F.broadcast(cc.withColumnRenamed("node", "cell")), "cell", "left"
    ).select(
        "cx",
        "cy",
        "n_users",
        F.coalesce(F.col("component"), F.col("cell")).alias("cluster"),
    )
    return labeled


def _q_trajectory_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence co-location (batch 8): user pairs sharing ≥ 2
    (hour, region) position ticks — the TEMPORAL companion of
    user_covisit_jaccard's set overlap (co-visiting the same cells
    EVER vs being in the same region AT THE SAME HOUR; contact-tracing
    /companion-detection semantics). The join keys on (hour, region):
    at 100 TB that key space is huge and per-key membership small —
    the m² risk the covisit join has on hot cells is structurally
    diluted by the time dimension; the threshold prunes before the
    final aggregate's exchange."""
    pos = ops.hourly_positions(
        events_as_pings(spark, sf_dir, N_REGIONS)
    ).localCheckpoint(eager=True)
    a = pos.select(
        F.col("user_id").alias("u1"), "hour", "region_id"
    )
    b = pos.select(
        F.col("user_id").alias("u2"), "hour", "region_id"
    )
    return (
        a.join(b, ["hour", "region_id"])
        .filter(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(F.count("*").alias("n_shared_hours"))
        .filter(F.col("n_shared_hours") >= 2)
    )


def _q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts, window ±2 (batch 9):
    the word2vec/GloVe TRAINING-DATA GENERATION pass. No join and no
    explode-then-self-join: for each offset d ∈ {1, 2} the pair list
    is arrays_zip(t, slice(t, d+1)) — a pure map-side array
    expression — and symmetry adds the reversed direction, so every
    co-occurrence within the window is counted exactly once per
    direction. One final count exchange; top-30 by (count desc, pair
    asc) keeps the hash surface bounded."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tx.tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    legs = []
    for d in (1, 2):
        pair = toks.filter(F.size("t") >= d + 1).select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("t"), 1, F.size("t") - d).alias("w"),
                    F.slice(
                        F.col("t"), d + 1, F.size("t") - d
                    ).alias("c"),
                )
            ).alias("p")
        )
        legs.append(
            pair.select(F.col("p.w").alias("w"), F.col("p.c").alias("c"))
        )
        legs.append(
            pair.select(F.col("p.c").alias("w"), F.col("p.w").alias("c"))
        )
    allp = legs[0]
    for leg in legs[1:]:
        allp = allp.unionByName(leg)
    return (
        allp.groupBy("w", "c")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc(), F.col("c").asc())
        .limit(30)
    )


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking (batch 9): fixed 50-token chunks
    with stride 40 (10-token overlap) — the retrieval-index prep
    pass. Chunk starts come from explode(sequence(1, n, 40)) (the
    gap-fill generator pattern — map-side, no join); each chunk
    reports its id, token span, and boundary tokens so the oracle
    pins slicing off-by-ones exactly. Short tails (< 50) are kept —
    dropping them silently loses corpus tail text."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", tx.tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 1)
    chunks = toks.select(
        "doc_id",
        F.size("t").alias("n_tok"),
        "t",
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(40))
        ).alias("start"),
    )
    clen = F.least(F.lit(50), F.col("n_tok") - F.col("start") + 1)
    return chunks.select(
        "doc_id",
        ((F.col("start") - 1) / 40).cast("int").alias("chunk_id"),
        "start",
        clen.alias("chunk_len"),
        F.element_at("t", F.col("start")).alias("first_tok"),
        F.element_at(
            "t", F.col("start") + clen - 1
        ).alias("last_tok"),
    )


def _q_kwic_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context extraction (batch 9): every occurrence of
    the term 'spark' with its ±3-token window — the corpus-inspection
    pass behind data-quality review UIs. Positions via posexplode,
    context via one array slice per hit with exact boundary clamps
    (the slice math is the off-by-one the oracle pins)."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tx.tokens(F.col("text")).alias("t"))
    hits = toks.select(
        "doc_id",
        "t",
        F.posexplode("t").alias("pos0", "tok"),
    ).filter(F.col("tok") == "spark")
    lo = F.greatest(F.lit(1), F.col("pos0") + 1 - 3)
    hi = F.least(F.size("t"), F.col("pos0") + 1 + 3)
    return hits.select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.array_join(
            F.slice(F.col("t"), lo, hi - lo + 1), " "
        ).alias("context"),
    )


def _q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (batch 9): sentences per doc and
    mean sentence word-length — the readability profile a curation
    pipeline scores. Sentences = period-split segments with ≥ 1
    token (both engines: regex split on '\\.', trim, drop empties);
    the mean divides two exact BIGINTs once."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    sents = docs.select(
        "doc_id",
        F.filter(
            F.transform(
                F.split(F.lower(F.trim(F.col("text"))), r"\."),
                lambda x: F.trim(x),
            ),
            lambda x: x != "",
        ).alias("ss"),
    )
    per_sent = sents.select(
        "doc_id", F.explode("ss").alias("s")
    ).select(
        "doc_id",
        F.size(F.filter(F.split(F.col("s"), r"\s+"), lambda t: t != "")).alias(
            "n_words"
        ),
    )
    return per_sent.groupBy("doc_id").agg(
        F.count("*").alias("n_sentences"),
        F.sum("n_words").alias("n_words"),
        (
            F.sum("n_words").cast("double")
            / F.count("*").cast("double")
        ).alias("mean_sentence_len"),
    )


def _q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (batch 9): closes the
    graph-statistics family — cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    on the undirected simple OD graph, composed from the
    degree-ordered triangle counter (triangles.py — |E|^1.5 wedge
    bound) and one degree aggregate. Nodes below degree 2 report 0.0;
    the coefficient is one exact division of BIGINTs. The measure
    behind 'how clique-ish is each region's neighborhood' — the
    small-world diagnostic next to PageRank's centrality and k-core's
    cohesion."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.triangles import (
        triangle_counts,
        undirected_simple_edges,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    g = od.select(F.col("orig").alias("src"), F.col("dest").alias("dst"))
    und = undirected_simple_edges(g).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangle_counts(g)
    cc = F.when(
        F.col("deg") >= 2,
        (F.lit(2) * F.col("n_tri")).cast("double")
        / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri, "node", "left")
        .withColumn("n_tri", F.coalesce(F.col("n_tri"), F.lit(0)))
        .select(
            F.col("node").cast("int").alias("node"),
            "deg",
            "n_tri",
            cc.alias("clustering_coeff"),
        )
    )


def _q_span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption pair generation (batch 9): the
    denoising-objective TRAINING-DATA pass — each document's tokens
    are masked i.i.d. at 20% by the md5 coin (deterministic per
    (doc, position): same pairs on any engine, partitioning, or
    retry), adjacent masked tokens merge into spans, the INPUT
    replaces each span with one sentinel and the TARGET lists the
    masked spans sentinel-delimited in order. Entirely Catalyst array
    HOFs over the token array — transform(sequence) + run-start
    detection via the previous position's coin — no explode, no
    shuffle until the (bounded) output projection; 0-exchange map
    plan. n_masked pins the coin; the two strings pin the span
    merging and ordering."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", tx.tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 1)
    mask_i = (
        "(cast(conv(substring(md5(concat('span:', "
        "cast(doc_id as string), ':', cast({i} as string))), 1, 8), "
        "16, 10) as bigint) % 10) < 2"
    )
    m, mp = mask_i.format(i="i"), mask_i.format(i="i-1")
    return toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.expr(
            f"size(filter(sequence(1, size(t)), i -> {m}))"
        ).alias("n_masked"),
        F.expr(
            "array_join(filter(transform(sequence(1, size(t)), i -> "
            f"CASE WHEN NOT ({m}) THEN t[i-1] "
            f"WHEN i = 1 OR NOT ({mp}) THEN '<X>' "
            "ELSE NULL END), x -> x IS NOT NULL), ' ')"
        ).alias("input_text"),
        F.expr(
            "array_join(filter(transform(sequence(1, size(t)), i -> "
            f"CASE WHEN ({m}) AND (i = 1 OR NOT ({mp})) "
            "THEN concat('<X> ', t[i-1]) "
            f"WHEN ({m}) THEN t[i-1] "
            "ELSE NULL END), x -> x IS NOT NULL), ' ')"
        ).alias("target_text"),
    )


def _q_graph_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph health report (batch 9): nodes, directed edges,
    density, reciprocity (fraction of directed edges whose reverse
    exists — a self-semi-join on the swapped key), and degree
    assortativity (Pearson r of endpoint degrees over undirected
    edges — every moment Σx, Σy, Σxy, Σx², Σy², n is an exact BIGINT,
    so the only float ops are the final covariance/sqrt, identical
    IEEE on both engines; sqrt is correctly rounded everywhere). The
    whole-graph diagnostic read before choosing partitioning/salting
    strategies for the graph family."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    dir_e = (
        od.filter(F.col("orig") != F.col("dest"))
        .select(F.col("orig").alias("src"), F.col("dest").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rev = dir_e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    n_recip = dir_e.join(rev, ["src", "dst"], "semi").count()
    und = (
        dir_e.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dy"))
    mom = (
        und.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .agg(
            F.count("*").alias("m"),
            F.sum("dx").alias("sx"),
            F.sum("dy").alias("sy"),
            F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
            F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        )
    )
    n_nodes = deg.count()
    n_dir = dir_e.count()
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    cov = (m * F.col("sxy") - sx * sy).cast("double")
    varx = (m * F.col("sxx") - sx * sx).cast("double")
    vary = (m * F.col("syy") - sy * sy).cast("double")
    return mom.select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(n_dir).cast("long").alias("n_directed_edges"),
        (
            F.lit(float(n_dir))
            / F.lit(float(max(n_nodes * (n_nodes - 1), 1)))
        ).alias("density"),
        (F.lit(float(n_recip)) / F.lit(float(max(n_dir, 1)))).alias(
            "reciprocity"
        ),
        F.when(
            (varx > 0) & (vary > 0),
            cov / (F.sqrt(varx) * F.sqrt(vary)),
        ).alias("assortativity"),
    )


def _q_embedding_principal_component(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dominant principal direction of the embedding corpus (batch 9):
    3 power-iteration rounds, each ONE fused matvec aggregate
    (operators/pca.py — the Gram matrix never materializes; d doubles
    reach the driver per round, the kmeans codebook budget class).
    Max-abs normalization + 9-dp floor rounding keep both engines on
    the identical vector every round; unrolled DuckDB twin. Output:
    (dim_idx, coord) — 64 rows."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pca import (
        power_iteration_top_pc,
    )

    emb = fan_out_small_scan(load_table(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("vec")
    )
    v = power_iteration_top_pc(vec, dim=64, iterations=3)
    rows = [(i, float(c)) for i, c in enumerate(v)]
    return spark.createDataFrame(rows, "dim_idx int, coord double")


def _q_region_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the directed OD graph (batch 9):
    PageRank's mutual-reinforcement sibling — authorities are the
    regions flows converge INTO, hubs the origins that feed strong
    authorities. 3 fixed alternations, max-normalized DECIMAL sums,
    9-dp floor rounding per half-round; full unrolled DuckDB twin
    (operators/hits.py:hits_oracle_sql). Guide §8: the alternations
    fold on the driver over the ≤ N_REGIONS² collected edge rows
    (graph_bounded.hits_fold — the same shortest-repr decimal
    quantization, exact sums, max-norm and floor-round epilogue as
    the twin, which verifies bit-identity); the OD aggregation stays
    in Spark."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.graph_bounded import (
        collect_edges_bounded,
        hits_fold,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    g = od.groupBy("orig", "dest").agg(F.count("*").alias("__n")).select(
        F.col("orig").alias("src"), F.col("dest").alias("dst")
    )
    rows = collect_edges_bounded(g, (N_REGIONS + 1) * (N_REGIONS + 1), "src", "dst")
    out = hits_fold([(r["src"], r["dst"]) for r in rows], iterations=3)
    return spark.createDataFrame(
        out, "node int, hub double, authority double"
    )


def _mobility_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))


def _q_radius_of_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user radius of gyration on the region grid (batch 10 —
    mobility characteristics): the headline per-user statistic of the
    mobile-big-data literature the reference's pipeline feeds
    (González et al. 2008). Expanded exact form n·Σx²−(Σx)² keeps the
    numerator a single BIGINT; the only float ops are one IEEE sqrt and
    one division (operators/mobility.py)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        radius_of_gyration,
    )

    return radius_of_gyration(_mobility_positions(spark, sf_dir))


def _q_location_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective visited-region count per user (batch 10): inverse
    Simpson N²/Σnᵢ² — the log-free location-entropy twin (same
    ordering, exact BIGINT products, one IEEE division)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        location_diversity,
    )

    return location_diversity(_mobility_positions(spark, sf_dir))


def _q_top_location_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user most-visited region + visit share (batch 10): the
    zeroth-order predictability statistic; two map-combinable
    aggregates, ties to the smallest region via a (count, −region)
    max_by struct."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        top_location_share,
    )

    return top_location_share(_mobility_positions(spark, sf_dir))


def _q_jump_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jump-length distribution (batch 10): Chebyshev grid distance of
    consecutive hourly positions, histogrammed — integer buckets, so
    no trig/libm anywhere (the exact stand-in for the haversine hop
    histogram)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        jump_length_histogram,
    )

    return jump_length_histogram(_mobility_positions(spark, sf_dir))


def _q_visitation_rank_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf curve of location visitation (batch 10): per-user region
    ranks (count desc, region asc) aggregated into per-rank totals —
    exact BIGINTs plus one IEEE mean division."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        visitation_rank_curve,
    )

    return visitation_rank_curve(_mobility_positions(spark, sf_dir))


def _q_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyword extraction by chi-squared (batch 11): the
    classic 2×2 contingency test of token-vs-source association, the
    curation primitive behind domain-tagging and contamination triage.
    All four cell counts (a,b,c,d) are exact BIGINTs from two token
    aggregates; chi² is then evaluated in ONE identically-parenthesized
    double expression on both engines (every IEEE op on the same exact
    inputs in the same order ⇒ identical bits — the rule that lets us
    rank on the raw double). Keeps overrepresented tokens only
    (ad > bc), support a ≥ 5, top-5 per source (ties: a desc, token
    asc). Joins: per-token global counts joined on the Zipf-bounded
    vocabulary; per-source totals broadcast (sources are enum-sized)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tx.tokens(F.col("text"))).alias("w")
    )
    a_tbl = toks.groupBy("source", "w").agg(F.count("*").alias("a"))
    g_tbl = toks.groupBy("w").agg(F.count("*").alias("gw"))
    s_tbl = toks.groupBy("source").agg(F.count("*").alias("ts"))
    n_tbl = toks.agg(F.count("*").alias("n"))
    j = (
        a_tbl.join(g_tbl, "w")
        .join(F.broadcast(s_tbl), "source")
        .crossJoin(F.broadcast(n_tbl))
    )
    a = F.col("a").cast("double")
    b = (F.col("gw") - F.col("a")).cast("double")
    c = (F.col("ts") - F.col("a")).cast("double")
    d = (F.col("n") - F.col("gw") - F.col("ts") + F.col("a")).cast("double")
    nd = F.col("n").cast("double")
    gwd = F.col("gw").cast("double")
    tsd = F.col("ts").cast("double")
    diff = a * d - b * c
    # marginal form of the denominator: a+b = gw etc. exactly (all
    # counts < 2^53, so the double sums are exact) — fewer IEEE ops to
    # mirror in the oracle, same bits
    chi2 = (nd * diff * diff) / (gwd * (nd - gwd) * tsd * (nd - tsd))
    scored = j.filter(
        (F.col("a") >= 5)
        & (
            F.col("a") * (F.col("n") - F.col("gw") - F.col("ts") + F.col("a"))
            > (F.col("gw") - F.col("a")) * (F.col("ts") - F.col("a"))
        )
    ).select("source", F.col("w").alias("token"), "a", chi2.alias("chi2"))
    w_rank = Window.partitionBy("source").orderBy(
        F.col("chi2").desc(), F.col("a").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 5)
        .select(
            "source",
            "rnk",
            "token",
            F.col("a").alias("n_in_source"),
            "chi2",
        )
    )


def _q_zipf_token_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head of the corpus vocabulary (batch 11): top-50 tokens by
    frequency with their rank and the rank×count product (the Zipf
    constant a tokenizer-budget estimate reads). Global top-50 goes
    through orderBy+limit (TakeOrderedAndProject — per-partition
    top-k then a 50-row merge, never a single-partition sort); the
    row_number window then runs on 50 rows."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(50)
    )
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("w").asc())
    return counts.withColumn("rnk", F.row_number().over(w_rank)).select(
        "rnk",
        F.col("w").alias("token"),
        "cnt",
        (F.col("rnk") * F.col("cnt")).cast("bigint").alias("rank_cnt"),
    )


def _q_bigram_next_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-likelihood next-token table (batch 11): for every head
    token with ≥ 20 outgoing bigrams, the single most likely successor
    and its conditional probability — the 1-st order LM a generation
    sanity-check or a completion-dedup pass uses. Bigrams come from the
    in-order arrays_zip (no shuffle before the count); the argmax
    window partitions by head over vocabulary-bounded groups; the
    probability is one IEEE division of exact BIGINTs."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(tx.tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1).alias("w1"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    pair = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("pair_n"))
    w_head = Window.partitionBy("w1")
    w_rank = Window.partitionBy("w1").orderBy(
        F.col("pair_n").desc(), F.col("w2").asc()
    )
    return (
        pair.withColumn("head_n", F.sum("pair_n").over(w_head))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter((F.col("rn") == 1) & (F.col("head_n") >= 20))
        .select(
            "w1",
            "w2",
            "pair_n",
            F.col("head_n").cast("bigint").alias("head_n"),
            (
                F.col("pair_n").cast("double")
                / F.col("head_n").cast("double")
            ).alias("prob"),
        )
    )


def _q_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source (batch 11): distinct token types /
    total tokens — the quality-scoring companion that separates
    template-generated sources from natural ones. One exploded token
    scan, exact BIGINT counts, one IEEE division."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(tx.tokens(F.col("text"))).alias("w")
    )
    return toks.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("n_types"),
        (
            F.countDistinct("w").cast("double")
            / F.count("*").cast("double")
        ).alias("ttr"),
    )


def _q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (batch 12): order-priority checking — orders
    placed in 1996 with at least one LATE lineitem (shipped > 60 days
    after the order date; the schema has no commit/receipt dates, so
    lateness is restated against o_orderdate), counted per priority.
    The EXISTS becomes a semi-join on orderkey; the date filters reach
    both parquet scans (PushedFilters)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 60)),
        "semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


def _q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (batch 12): shipping volume between every
    distinct (supplier-nation, customer-nation) pair for 1996–1997,
    by ship year. Fact joins shuffle on orderkey/custkey/suppkey;
    the nation dim broadcasts twice (aliased); revenue is the
    DECIMAL-exact discounted sum."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            # floor form, not round(): ~1200 output groups means some
            # sums land on .xx5 half-boundaries, where round() diverges
            # across engines (module docstring rule; 2 rows diverged at
            # sf0.01 with round)
            (
                F.floor(
                    F.sum(
                        _dec("l_extendedprice") * (one - _dec("l_discount"))
                    ).cast("double")
                    * F.lit(100.0)
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("revenue")
        )
    )


def _q_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (batch 12): promotion-revenue share per ship
    month of 1996. Both the promo and total sums are DECIMAL-exact
    conditional aggregates in ONE pass (no second scan, no join back);
    the share is a single IEEE division of the two exactly-rounded
    doubles. Part dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    part = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(18,4)")
    rev = _dec("l_extendedprice") * (one - _dec("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = joined.groupBy(F.month("l_shipdate").alias("ship_month")).agg(
        F.round(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).cast("double"),
            2,
        ).alias("promo_revenue"),
        F.round(F.sum(rev).cast("double"), 2).alias("total_revenue"),
    )
    return agg.select(
        "ship_month",
        "promo_revenue",
        "total_revenue",
        # NULL share on a zero-revenue month on BOTH engines (Spark's
        # raw x/0.0 is IEEE Inf/NaN, DuckDB's is NULL — never let the
        # two disagree on a degenerate group)
        F.when(
            F.col("total_revenue") > 0,
            F.col("promo_revenue") / F.col("total_revenue"),
        ).alias("promo_share"),
    )


def _q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (batch 12): the supplier(s) with maximum
    revenue for 1996-Q1. The max-of-aggregate comparison runs on the
    EXACT decimal sums (never the rounded doubles), so ties and the
    winner are engine-independent; the 1-row max side broadcasts back
    against the per-supplier aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    one = F.lit(1).cast("decimal(18,4)")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).alias(
            "rev_dec"
        )
    )
    mx = per_supp.agg(F.max("rev_dec").alias("max_dec"))
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_dec") == F.col("max_dec"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            F.round(F.col("rev_dec").cast("double"), 2).alias(
                "total_revenue"
            ),
        )
    )


def _q_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (batch 12): three-branch disjunctive
    brand/quantity/size predicate over the part-lineitem join — the
    OR-of-ANDs pattern that exercises predicate normalization. Part
    broadcasts; one DECIMAL-exact global sum (zero-key,
    map-combinable)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    b = F.col("p_brand")
    pred = (
        ((b == "Brand#1") & (q >= 1) & (q <= 11) & (sz >= 1) & (sz <= 5))
        | ((b == "Brand#13") & (q >= 10) & (q <= 20) & (sz >= 1) & (sz <= 10))
        | ((b == "Brand#25") & (q >= 20) & (q <= 30) & (sz >= 1) & (sz <= 15))
    )
    one = F.lit(1).cast("decimal(18,4)")
    return j.filter(pred).agg(
        F.round(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).cast(
                "double"
            ),
            2,
        ).alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


def _q_q22_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (batch 12): customers richer than the global
    mean balance who never ordered, aggregated per nation. The mean
    comparison is restated exactly — bal·n > Σbal in DECIMAL (the
    above_nation_avg rule; no float mean anywhere); the anti-join on
    RECENT orders replaces NOT EXISTS (this testdata gives every
    customer *some* order, so Q22's literal no-orders-ever set is
    empty — lapsed-since-2000 keeps the anti-join non-trivial);
    balance totals are DECIMAL-exact."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("date")
    )
    nation = load_table(spark, sf_dir, "nation")
    glob = cust.agg(
        F.sum(_dec("c_acctbal")).alias("bal_sum"),
        F.count("*").alias("bal_n"),
    )
    rich = (
        cust.crossJoin(F.broadcast(glob))
        .filter(
            _dec("c_acctbal") * F.col("bal_n")
            > F.col("bal_sum")
        )
        .join(orders, cust.c_custkey == orders.o_custkey, "anti")
    )
    return (
        rich.join(
            F.broadcast(nation), rich.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(_dec("c_acctbal")).cast("double"), 2).alias(
                "total_acctbal"
            ),
        )
    )


def _q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality over the top-3-sparsified OD region graph
    (batch 13): all-pairs hop distances within 4 hops, then
    H(v) = Σ 1/d as exact integer twelfths (12 = lcm(1..4)) with a
    single closing division. Full unrolled DuckDB twin
    (operators/bfs.py:harmonic_oracle_sql, one multi-source relax
    chain keyed by (source, node)). Guide §8: the 4 relax rounds
    fold on the driver over the ≤ N_REGIONS² collected edge rows
    (integer arithmetic; graph_bounded.harmonic_fold); the OD
    aggregation and top-3 window stay in Spark."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.bfs import (
        topk_out_edges,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.graph_bounded import (
        collect_edges_bounded,
        harmonic_fold,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    tot = od.groupBy("orig", "dest").agg(F.sum("cnt").alias("w"))
    g = topk_out_edges(
        tot.select(
            F.col("orig").alias("src"),
            F.col("dest").alias("dst"),
            "w",
        ),
        k=3,
    )
    rows = collect_edges_bounded(
        g, (N_REGIONS + 1) * (N_REGIONS + 1), "src", "dst"
    )
    out = harmonic_fold([(r["src"], r["dst"]) for r in rows], max_hops=4)
    return spark.createDataFrame(
        out, "node int, n_reached bigint, harmonic double"
    )


def _q_region_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality over the top-3-sparsified OD region graph
    (batch 25): same one-chain multi-source BFS as harmonic
    centrality, different epilogue — C(v) = n_reached / Σd with both
    counts exact BIGINTs and the division the only float op. Full
    unrolled DuckDB twin (operators/bfs.py:closeness_oracle_sql).
    Guide §8: the 4 relax rounds fold on the driver
    over the ≤ N_REGIONS² collected edge rows (integer arithmetic;
    graph_bounded.closeness_fold); the OD aggregation and top-3
    window stay in Spark."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.bfs import (
        topk_out_edges,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.graph_bounded import (
        closeness_fold,
        collect_edges_bounded,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    tot = od.groupBy("orig", "dest").agg(F.sum("cnt").alias("w"))
    g = topk_out_edges(
        tot.select(
            F.col("orig").alias("src"),
            F.col("dest").alias("dst"),
            "w",
        ),
        k=3,
    )
    rows = collect_edges_bounded(
        g, (N_REGIONS + 1) * (N_REGIONS + 1), "src", "dst"
    )
    out = closeness_fold([(r["src"], r["dst"]) for r in rows], max_hops=4)
    return spark.createDataFrame(
        out,
        "node int, n_reached bigint, total_hops bigint, closeness double",
    )


def _q_exploration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-place discovery curve (batch 25): fraction of users in a
    never-before-visited region at their n-th hourly position — the
    Song et al. exploration/preferential-return signature
    (operators/mobility.py:exploration_curve). Two windows over the
    position table, one visit-index aggregate."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        exploration_curve,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    return exploration_curve(pos)


def _q_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event burstiness B = (σ−μ)/(σ+μ) per user (batch 25) —
    Goh & Barabási's bursty-dynamics measure over hourly position
    gaps, from exact BIGINT sufficient statistics with an identical
    float epilogue on both engines
    (operators/mobility.py:user_burstiness)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        user_burstiness,
    )

    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    return user_burstiness(pos)


def _q_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (batch 12): supplier diversity per part
    attribute class. The part-supplier relation is recovered from the
    observed distinct (l_partkey, l_suppkey) pairs (this schema ships
    no partsupp table); the NOT IN (bad suppliers — negative balance
    stands in for the complaints filter) becomes a broadcast anti-join
    BEFORE the expensive distinct, and the part dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    supp_bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    good = ps.join(
        F.broadcast(supp_bad.select("s_suppkey")),
        ps.l_suppkey == F.col("s_suppkey"),
        "anti",
    )
    return (
        good.join(F.broadcast(part), good.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def _q_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (batch 12): revenue locked in small-quantity
    orders of one brand — lineitems whose quantity is below 20% of
    their part's average. The correlated average is restated EXACTLY:
    qty < Σq/(5n) ⇔ 5·qty·n < Σq in DECIMAL (no float mean is ever
    formed, the above-avg rule), so the qualifying row set is
    engine-independent. Per-part stats aggregate once and join back on
    partkey; brand filter prunes via the broadcast part dim on BOTH
    sides."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    )
    branded = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
    ).drop("p_partkey")
    stats = branded.groupBy(F.col("l_partkey").alias("sk")).agg(
        F.count("*").alias("n_li"),
        F.sum(_dec("l_quantity")).alias("sum_q"),
    )
    small = branded.join(
        stats, branded.l_partkey == stats.sk
    ).filter(
        _dec("l_quantity") * F.lit(5) * F.col("n_li") < F.col("sum_q")
    )
    return small.agg(
        F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias(
            "revenue_small_qty"
        ),
        F.count("*").alias("n_lineitems"),
    )


def _q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (batch 24): forecast-revenue change — one scan, three
    pushed-down filters, a single zero-key DECIMAL aggregate. The
    simplest TPC-H query and the purest pushdown check: every
    predicate reaches the parquet scan, no join, no shuffle beyond the
    single-row final combine. Discount bounds compare the column's own
    double values against the same binary64 literals on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def _q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (batch 24): NATION_3's share of the ASIA market
    for ECONOMY parts, per order year. The share is a ratio of two
    co-grouped DECIMAL sums rounded identically on both engines (the
    q14 promo-share convention); nation/region dims broadcast, the
    fact chain shuffles on its join keys only."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rk")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    one = F.lit(1).cast("decimal(18,4)")
    vol = _dec("l_extendedprice") * (one - _dec("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    base = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_rk") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
    )
    agg = base.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.round(F.sum(target).cast("double"), 2).alias("nation_volume"),
        F.round(F.sum(vol).cast("double"), 2).alias("total_volume"),
    )
    return agg.select(
        "o_year",
        "nation_volume",
        "total_volume",
        F.when(
            F.col("total_volume") > 0,
            F.col("nation_volume") / F.col("total_volume"),
        ).alias("mkt_share"),
    )


def _q_q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (batch 24), ADAPTED: profit per supplier nation
    and order year over parts named like '%red%'. The dataset ships no
    partsupp table, so the ps_supplycost·quantity term is dropped and
    profit is the discounted revenue — the adaptation is applied
    identically on both engines, so the differential check still pins
    the 4-way join + LIKE-pruned part dim + year rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
                .cast("double"),
                2,
            ).alias("sum_profit"),
            F.count("*").alias("n_lines"),
        )
    )


def _q_q12_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (batch 24), ADAPTED: the schema has no
    l_shipmode / commit / receipt dates, so the Q12 split is restated
    on lateness itself — lines shipped in 1996 bucketed by whether
    they shipped >90 days after the order date, with the classic
    CASE-sum split of high- vs low-priority orders per bucket. Same
    restatement on both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = (
        F.col("l_shipdate").cast("date")
        > F.date_add(F.col("o_orderdate").cast("date"), 90)
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(late.alias("is_late")).agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


def _q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (batch 24): distribution of customers by order
    count, zero-order customers included via the left join (the
    dataset has no o_comment, so Q13's comment-exclusion predicate is
    dropped on both engines). Two aggregates: per-customer count, then
    the count-of-counts — both map-side combinable."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


def _q_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (batch 24), ADAPTED: suppliers who alone held
    up multi-supplier orders. With no receipt/commit dates, 'held up'
    is restated on ship dates — in orders with ≥2 distinct suppliers,
    the blocking supplier is the UNIQUE supplier whose latest line
    ships on the order's latest ship date (Q21's exists/not-exists
    pair becomes two aggregate predicates on the per-(order, supplier)
    max-shipdate table). All joins key on orderkey; the supplier dim
    broadcasts for the final name attach."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    lo = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max")
    )
    stats = lo.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.max("supp_max").alias("ord_max"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    at_max = (
        lo.join(stats, (lo.l_orderkey == stats.ok))
        .filter(F.col("supp_max") == F.col("ord_max"))
        .groupBy(F.col("l_orderkey").alias("ok2"))
        .agg(F.count("*").alias("n_at_max"))
    )
    blockers = (
        lo.join(stats, lo.l_orderkey == stats.ok)
        .join(at_max, lo.l_orderkey == F.col("ok2"))
        .filter(
            (F.col("n_supp") >= 2)
            & (F.col("supp_max") == F.col("ord_max"))
            & (F.col("n_at_max") == 1)
        )
    )
    return (
        blockers.join(
            F.broadcast(supp), blockers.l_suppkey == supp.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


def _q_ols_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed simple linear regression (batch 14): per event-type
    OLS of value on hour-of-day via SUFFICIENT STATISTICS — the
    map-combinable normal-equation moments (n, Σx, Σy, Σxy, Σx², Σy²)
    accumulate exactly (x is a small int, y goes through
    DECIMAL(18,4)), so the slope/intercept/r² are pure functions of
    exact inputs: identical IEEE expression trees on both engines.
    This is THE scale pattern for regression at 100 TB — one pass, one
    tiny aggregate row per group, no iterative solver, no driver data."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    x = F.hour("ts").cast("bigint")
    # y in exact ten-thousandths: decimal(18,4)·10⁴ is an integral
    # decimal, so the BIGINT cast is exact and EVERY moment below is a
    # pure BIGINT — no decimal→double cast anywhere (that cast is the
    # one operation documented to drift 1 ulp across engines at 1e9+)
    y = (_dec("value") * 10000).cast("bigint")
    mom = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(y * x).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    cov_n = nd * sxyd - sxd * syd
    varx_n = nd * sxxd - sxd * sxd
    vary_n = nd * syyd - syd * syd
    slope = (cov_n / varx_n) / F.lit(10000.0)
    intercept = ((syd - (cov_n / varx_n) * sxd) / nd) / F.lit(10000.0)
    r2 = (cov_n * cov_n) / (varx_n * vary_n)  # scale cancels exactly
    # degenerate-group guard on the DOUBLE moments, mirrored in the
    # oracle: zero x- or y-variance would divide by 0.0, where the
    # engines disagree (Spark → NaN/Inf per IEEE, DuckDB → NULL).
    # The doubles are identical bits on both engines (same exact
    # inputs, same expression), so the comparison is symmetric — and
    # unlike the BIGINT form n·syy, it cannot overflow (n·syy passed
    # 2⁶³ at sf0.1 and ANSI Spark threw ARITHMETIC_OVERFLOW; DuckDB
    # would have silently widened to HUGEINT — an engine divergence
    # hiding inside the 'exact' guard)
    nonsing = (varx_n > 0) & (vary_n > 0)
    return mom.filter(nonsing).select(
        "event_type",
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def _q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit profile per event type (batch 14): the Benford
    data-quality screen for fabricated or truncated numeric columns.
    Digit extraction is string-free integer math — divide |value|'s
    integer part down to one digit (values here are ≥ 0.01·scale so a
    0 integer part maps to the first significant decimal digit via a
    ×100 pre-scale); shares are one exact division per row of the
    digit-count over the type total (window sum)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") != 0)
    )
    # scale so every |value| has an integer part, then strip down to
    # the leading digit with a log-free loop: v < 10^k comparisons
    mag = F.abs(F.col("value")) * 100.0
    d0 = F.floor(mag).cast("bigint")
    # FLAT divisor lookup, never a nested digit-stripping chain: each
    # nested when/CASE re-inlines its inner expression 3×, so a
    # 7-level nest is a 3⁷-node tree (measured: a 142 KB plan and
    # ~2 s/run at sf0.1; this form is ~60 B and scan-bound). The
    # divisor is the largest power of ten ≤ d0; one floored double
    # division lands on the leading digit (floor, never a bare
    # double→int CAST: DuckDB rounds, Spark truncates).
    divisor = F.lit(1).cast("bigint")
    for p in (10, 100, 1000, 10000, 100000, 1000000, 10000000):
        divisor = F.when(d0 >= p, F.lit(p).cast("bigint")).otherwise(divisor)
    digit = F.floor(d0 / divisor).cast("bigint")
    counts = ev.select(
        "event_type", digit.alias("lead_digit")
    ).groupBy("event_type", "lead_digit").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type")
    return counts.withColumn(
        "share",
        F.col("cnt").cast("double") / F.sum("cnt").over(w).cast("double"),
    )


def _q_od_flow_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flow-conservation diagnostic per region (batch 15): total
    inflow, outflow, net, and the imbalance share |in−out|/(in+out) —
    the sanity report a mobility matrix is screened with before any
    model consumes it (a closed population should balance over a long
    window). Two region-keyed aggregates over the OD matrix joined
    full-outer on region id (a region can be sink-only or source-
    only); all counts exact BIGINTs, one IEEE division."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    flows = od.filter(F.col("orig") != F.col("dest"))
    outf = flows.groupBy(F.col("orig").alias("region")).agg(
        F.sum("cnt").alias("out_cnt")
    )
    inf = flows.groupBy(F.col("dest").alias("region")).agg(
        F.sum("cnt").alias("in_cnt")
    )
    j = outf.join(inf, "region", "full_outer").select(
        F.col("region").cast("int").alias("region"),
        F.coalesce("in_cnt", F.lit(0)).alias("in_cnt"),
        F.coalesce("out_cnt", F.lit(0)).alias("out_cnt"),
    )
    return j.select(
        "region",
        "in_cnt",
        "out_cnt",
        (F.col("in_cnt") - F.col("out_cnt")).alias("net"),
        (
            F.abs(F.col("in_cnt") - F.col("out_cnt")).cast("double")
            / (F.col("in_cnt") + F.col("out_cnt")).cast("double")
        ).alias("imbalance"),
    )


def _q_region_peak_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak occupancy hour per region (batch 15): the argmax the
    reference's per-hour occupancy plots eyeball, as one max_by
    aggregate over the occupancy table (ties → earliest hour via the
    (n_users, −epoch) struct order) — two map-combinable aggregates
    end to end, no window over the full occupancy surface."""
    pings = events_as_pings(spark, sf_dir, N_REGIONS)
    occ = ops.occupancy(pings)  # (region_id, hour, n_users)
    return occ.groupBy(F.col("region_id").cast("int").alias("region")).agg(
        F.max_by(
            F.col("hour"),
            F.struct(
                F.col("n_users"),
                (-F.unix_timestamp("hour")).alias("neg_ts"),
            ),
        ).alias("peak_hour"),
        F.max(
            F.struct(
                F.col("n_users"),
                (-F.unix_timestamp("hour")).alias("neg_ts"),
            )
        )["n_users"].alias("peak_users"),
    )


_CMS_DEPTH = 4
_CMS_WIDTH = 1024


def _cms_bucket(d: F.Column, key: F.Column) -> F.Column:
    """Row d of the Count-Min sketch (functions/sampling.py:hash_bucket)."""
    return hash_bucket("cms", d, key, _CMS_WIDTH)


def _q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters (batch 16): the bounded-memory
    frequency sketch, built EXACTLY — counters are a (depth, bucket)
    groupBy (4×1024 cells, map-side combinable: the sketch build
    shuffles ≤ depth·width rows no matter the event count), estimates
    are min-over-rows via a broadcast probe of the exact top-20 keys.
    Reports estimate next to truth so the oracle pins BOTH the sketch
    arithmetic and the CMS ≥ exact overestimate guarantee. All md5 —
    no engine-specific hashing anywhere."""
    ev = load_table(spark, sf_dir, "events")
    depths = F.array(*[F.lit(i) for i in range(_CMS_DEPTH)])
    hashed = ev.select(
        F.explode(depths).alias("d"), F.col("user_id")
    ).select("d", _cms_bucket(F.col("d"), F.col("user_id")).alias("bucket"))
    counters = hashed.groupBy("d", "bucket").agg(F.count("*").alias("c"))
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
        .limit(20)
    )
    probe = exact.select(
        "user_id", "exact_cnt", F.explode(depths).alias("d")
    ).select(
        "user_id",
        "exact_cnt",
        "d",
        _cms_bucket(F.col("d"), F.col("user_id")).alias("bucket"),
    )
    return (
        counters.join(F.broadcast(probe), ["d", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
    )


def _q_occupancy_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each region's hourly occupancy series
    (batch 16): the persistence diagnostic of the flow (rush-hour
    structure vs noise), over the ZERO-FILLED dense series so every
    consecutive-hour pair exists. Occupancy counts are integers, so
    all Pearson moments are exact BIGINTs (the OLS/assortativity
    pattern); the only floats are two sqrt and one division, with the
    zero-variance guard in exact integer arithmetic on both engines."""
    dense = _q_dense_hourly_occupancy(spark, sf_dir)
    w = Window.partitionBy("region_id").orderBy("hour")
    pairs = (
        dense.withColumn("prev", F.lag("n_users").over(w))
        .filter(F.col("prev").isNotNull())
        .select("region_id", F.col("prev").alias("x"), F.col("n_users").alias("y"))
    )
    mom = pairs.groupBy("region_id").agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    nonsing = (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0
    ) & (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
    return mom.filter(nonsing).select(
        "region_id",
        F.col("m").alias("n_pairs"),
        (cov / (F.sqrt(varx) * F.sqrt(vary))).alias("r1"),
    )


_BLOOM_BITS = 4096
_BLOOM_K = 3


def _bloom_bit(i: F.Column, key: F.Column) -> F.Column:
    """Bit of hash function i of the Bloom filter
    (functions/sampling.py:hash_bucket)."""
    return hash_bucket("bloom", i, key, _BLOOM_BITS)


def _q_bloom_membership_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership report (batch 16): build a 4096-bit /
    3-hash Bloom filter over purchasing users (the set-bit positions
    ARE the filter — a distinct (bit) table ≤ m rows, broadcastable
    anywhere), probe every user, and report the measured
    false-positive rate next to the zero-false-negative guarantee.
    Completes the sketch family (HLL occupancy, KLL percentiles,
    Count-Min counts, Bloom membership); md5 throughout, so the
    filter and the report reproduce bit-for-bit in any engine. One
    row out; the only division is fp / non-members."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    members = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    hashes = F.array(*[F.lit(i) for i in range(_BLOOM_K)])
    bits = (
        members.select(F.explode(hashes).alias("i"), "user_id")
        .select(_bloom_bit(F.col("i"), F.col("user_id")).alias("bit"))
        .distinct()
    )
    probe = users.select(
        "user_id", F.explode(hashes).alias("i")
    ).select("user_id", _bloom_bit(F.col("i"), F.col("user_id")).alias("bit"))
    hits = (
        probe.join(F.broadcast(bits), "bit", "semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("nhit"))
    )
    flagged = users.join(
        hits.filter(F.col("nhit") == _BLOOM_K), "user_id", "left"
    ).select(
        "user_id", F.col("nhit").isNotNull().alias("bloom_pos")
    )
    labeled = flagged.join(
        members.withColumn("is_member", F.lit(True)), "user_id", "left"
    ).select(
        "user_id",
        "bloom_pos",
        F.coalesce("is_member", F.lit(False)).alias("is_member"),
    )
    # coalesce(…, 0): sum over zero rows is NULL, and the empty-corpus
    # report should say 0 members / 0 FPs, not NULL (both engines)
    return labeled.agg(
        F.count("*").alias("n_users"),
        F.coalesce(
            F.sum(F.when(F.col("is_member"), 1).otherwise(0)), F.lit(0)
        ).alias("n_members"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("bloom_pos") & ~F.col("is_member"), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_false_positives"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("is_member") & ~F.col("bloom_pos"), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_false_negatives"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("bloom_pos") & ~F.col("is_member"), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            ).cast("double")
            / F.greatest(
                F.coalesce(
                    F.sum(F.when(~F.col("is_member"), 1).otherwise(0)),
                    F.lit(0),
                ),
                F.lit(1),
            ).cast("double")
        ).alias("fp_rate"),
    )


def _q_gravity_model_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gravity-model fit (batch 17): is inter-region flow
    proportional to the product of endpoint masses? OLS of
    flow(i→j) on n_i·n_j over all region pairs with observed flow —
    the mobility-literature screen, in the batch-14 sufficient-
    statistics shape: every moment is an exact BIGINT (flows and
    visit counts are integers; Σx² stays under 2⁶³ through ~sf10 —
    documented bound), one mirrored double epilogue. One row out."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    mass = pos.groupBy(F.col("region_id").alias("r")).agg(
        F.count("*").alias("m")
    )
    flow = (
        od.filter(
            (F.col("orig") != F.col("dest"))
            & (F.col("orig") > 0)
            & (F.col("dest") > 0)
        )
        .groupBy("orig", "dest")
        .agg(F.sum("cnt").alias("y"))
    )
    mi = mass.select(F.col("r").alias("orig"), F.col("m").alias("m_o"))
    mj = mass.select(F.col("r").alias("dest"), F.col("m").alias("m_d"))
    pts = (
        flow.join(F.broadcast(mi), "orig")
        .join(F.broadcast(mj), "dest")
        .select((F.col("m_o") * F.col("m_d")).alias("x"), "y")
    )
    mom = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    cov_n = nd * F.col("sxy").cast("double") - sxd * syd
    varx_n = nd * F.col("sxx").cast("double") - sxd * sxd
    vary_n = nd * F.col("syy").cast("double") - syd * syd
    # double-moment guard (bit-identical across engines); the BIGINT
    # form n·sxx overflows 2⁶³ here already at sf0.1
    nonsing = (varx_n > 0) & (vary_n > 0)
    return mom.filter(nonsing).select(
        F.col("n").alias("n_pairs"),
        (cov_n / varx_n).alias("slope"),
        ((syd - (cov_n / varx_n) * sxd) / nd).alias("intercept"),
        ((cov_n * cov_n) / (varx_n * vary_n)).alias("r2"),
    )


def _q_weekly_region_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week visit growth per region (batch 17): weekly
    position counts, lag to the previous OBSERVED week (gaps skip, by
    contract), growth = (cur − prev)/prev — prev ≥ 1 whenever the lag
    row exists, so the division can never hit zero. The lag window
    partitions per region over weeks-observed (bounded)."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    weekly = pos.groupBy(
        F.col("region_id").cast("int").alias("region"),
        F.date_trunc("week", F.col("hour")).alias("week"),
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("region").orderBy("week")
    return (
        weekly.withColumn("prev_cnt", F.lag("cnt").over(w))
        .filter(F.col("prev_cnt").isNotNull())
        .select(
            "region",
            "week",
            "cnt",
            "prev_cnt",
            (
                (F.col("cnt") - F.col("prev_cnt")).cast("double")
                / F.col("prev_cnt").cast("double")
            ).alias("growth"),
        )
    )


def _q_work_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Work-location assignment (batch 18): modal business-hour
    (09–17) region over the hour-collapsed positions — the daytime
    twin of home_location's night-anchor mode (hourly dedup first, so
    ping frequency can't bias the mode; ties → smallest region, the
    mode_per_group contract). Output (user_id, work_region)."""
    pos = _mobility_positions(spark, sf_dir)
    bus = pos.filter(
        (F.hour("hour") >= 9) & (F.hour("hour") <= 17)
    )
    return ops.mode_per_group(bus, "user_id", "region_id").withColumnRenamed(
        "region_id", "work_region"
    )


def _q_commute_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Home→work commuter OD (batch 18): the matrix the reference's
    analysis ultimately feeds planning questions with — join the two
    per-user modal assignments (both user-keyed, AQE picks the join)
    and count users per (home, work) pair. Includes the diagonal
    (non-commuters) — its share is the interesting number."""
    home = ops.home_location(events_as_pings(spark, sf_dir, N_REGIONS))
    work = _q_work_location(spark, sf_dir)
    return (
        home.join(work, "user_id")
        .groupBy(
            F.col("home_region").cast("int").alias("home_region"),
            F.col("work_region").cast("int").alias("work_region"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def _q_od_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flow symmetry per unordered region pair (batch 19):
    sym = 2·min(f_ij, f_ji) / (f_ij + f_ji) — 1.0 for perfectly
    reciprocal flows, → 0 for one-way corridors. The canonical-key
    self-merge (least/greatest) keeps one row per unordered pair with
    both directed counts as exact BIGINTs; one IEEE division."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    flows = (
        od.filter(
            (F.col("orig") != F.col("dest"))
            & (F.col("orig") > 0)
            & (F.col("dest") > 0)
        )
        .groupBy("orig", "dest")
        .agg(F.sum("cnt").alias("f"))
    )
    und = flows.groupBy(
        F.least("orig", "dest").cast("int").alias("a"),
        F.greatest("orig", "dest").cast("int").alias("b"),
    ).agg(
        F.sum(F.when(F.col("orig") < F.col("dest"), F.col("f")).otherwise(0)).alias(
            "f_ab"
        ),
        F.sum(F.when(F.col("orig") > F.col("dest"), F.col("f")).otherwise(0)).alias(
            "f_ba"
        ),
    )
    return und.select(
        "a",
        "b",
        "f_ab",
        "f_ba",
        (
            (F.lit(2) * F.least("f_ab", "f_ba")).cast("double")
            / (F.col("f_ab") + F.col("f_ba")).cast("double")
        ).alias("symmetry"),
    )


def _q_user_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user regularity R (batch 19): the fraction of observed
    hours the user sits in their MODAL region for that hour-of-week —
    the log-free upper bound on location predictability from the
    mobility literature (a perfectly routine commuter scores 1.0).
    Two map-combinable aggregates — (user, how, region) counts, then
    a max/sum struct fold per (user, how), then per-user exact totals;
    one IEEE division at the very end."""
    pos = _mobility_positions(spark, sf_dir)
    how = (F.weekday("hour") * 24 + F.hour("hour")).alias("how")
    cells = pos.groupBy(F.col("user_id"), how, F.col("region_id")).agg(
        F.count("*").alias("c")
    )
    per_slot = cells.groupBy("user_id", "how").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("tot_c"),
    )
    agg = per_slot.groupBy("user_id").agg(
        F.sum("top_c").alias("hits"),
        F.sum("tot_c").alias("n_obs"),
    )
    return agg.select(
        "user_id",
        "n_obs",
        (
            F.col("hits").cast("double") / F.col("n_obs").cast("double")
        ).alias("regularity"),
    )


def _q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth (batch 20): cumulative distinct
    token types vs cumulative token occurrences across ten corpus
    slices. Slices come from the doc_id RANGE (floor((id−min)·10 /
    span) — min/max broadcast, pure map-side), NOT a global
    row_number: an exact count-decile would need a single-partition
    sort at 100 TB, and the growth curve only needs a deterministic
    monotone slicing. A type's slice of first appearance is one
    min() aggregate; the cumulative sums run on ten rows."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    span = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    with_b = docs.crossJoin(F.broadcast(span)).select(
        (
            (F.col("doc_id") - F.col("lo")) * 10
            / (F.col("hi") - F.col("lo") + 1)
        )
        .cast("bigint")
        .alias("bucket"),
        tx.tokens(F.col("text")).alias("t"),
    )
    toks = with_b.select("bucket", F.explode("t").alias("w"))
    per_bucket = toks.groupBy("bucket").agg(
        F.count("*").alias("n_tokens")
    )
    first_seen = toks.groupBy("w").agg(F.min("bucket").alias("fb"))
    new_types = first_seen.groupBy(F.col("fb").alias("bucket")).agg(
        F.count("*").alias("new_types")
    )
    j = per_bucket.join(new_types, "bucket", "left").select(
        "bucket",
        "n_tokens",
        F.coalesce("new_types", F.lit(0)).alias("new_types"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return j.select(
        F.col("bucket").cast("int").alias("bucket"),
        "n_tokens",
        "new_types",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        F.sum("new_types").over(w).alias("cum_types"),
    )


def _q_hub_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region hub dependence (batch 20): the share of each
    region's outflow going to its single strongest destination
    (ties → smallest dest) — the corridor-concentration diagnostic
    that tells a planner which regions have one dominant sink. One
    pair aggregate + one max_by/sum aggregate, one division."""
    pos = ops.hourly_positions(events_as_pings(spark, sf_dir, N_REGIONS))
    od = ops.od_matrix(ops.gap_fill_edges(pos))
    flows = (
        od.filter(
            (F.col("orig") != F.col("dest"))
            & (F.col("orig") > 0)
            & (F.col("dest") > 0)
        )
        .groupBy("orig", "dest")
        .agg(F.sum("cnt").alias("f"))
    )
    agg = flows.groupBy(F.col("orig").cast("int").alias("region")).agg(
        F.max_by(
            F.col("dest").cast("int"),
            F.struct(F.col("f"), (-F.col("dest")).alias("nd")),
        ).alias("top_dest"),
        F.max("f").alias("top_flow"),
        F.sum("f").alias("out_flow"),
    )
    return agg.select(
        "region",
        "top_dest",
        "top_flow",
        "out_flow",
        (
            F.col("top_flow").cast("double")
            / F.col("out_flow").cast("double")
        ).alias("dependence"),
    )


def _q_region_visitor_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visitor diversity per region (batch 21): the transpose of
    location_diversity — inverse Simpson over the per-user visit
    counts INTO each region (N²/Σnᵤ²), i.e. the effective number of
    distinct visitors: a region with eff ≪ n_visitors is carried by
    a few regulars, eff ≈ n_visitors is true through-traffic. Exact
    BIGINT products, one division."""
    pos = _mobility_positions(spark, sf_dir)
    counts = pos.groupBy(
        F.col("region_id").cast("int").alias("region"), "user_id"
    ).agg(F.count("*").alias("c"))
    agg = counts.groupBy("region").agg(
        F.count("*").alias("n_visitors"),
        F.sum("c").alias("n_obs"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return agg.select(
        "region",
        "n_visitors",
        "n_obs",
        (
            (F.col("n_obs") * F.col("n_obs")).cast("double")
            / F.col("s2").cast("double")
        ).alias("eff_visitors"),
    )


def _q_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split (batch 21): the product-
    analytics companion of cohort_retention — per active day, how
    many users are on their FIRST-ever day vs returning. First day is
    one min() aggregate; the daily split is one distinct-actives
    aggregate with a conditional count against the broadcast first-day
    table. All integers; no window."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first = daily.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = daily.join(F.broadcast(first), "user_id")
    return (
        j.groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).alias("new_users"),
            F.sum(
                F.when(F.col("day") != F.col("first_day"), 1).otherwise(0)
            ).alias("returning_users"),
            F.count("*").alias("active_users"),
        )
    )


def _q_median_jump_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user median jump length (batch 22): the characteristic
    displacement scale that complements radius_of_gyration (spread of
    positions) with the spread of MOVES. Exact rank-based median over
    integer Chebyshev grid distances (the mad_value_anomaly recipe:
    lo/hi middle ranks, mean of two BIGINTs = one /2.0 division —
    no percentile interpolation semantics to reconcile cross-engine).
    Users with ≥ 2 positions only."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        grid_xy,
    )

    pos = _mobility_positions(spark, sf_dir)
    x, y = grid_xy(F.col("region_id"), 5)
    pts = pos.select("user_id", F.col("hour"), x, y)
    w = Window.partitionBy("user_id").orderBy("hour")
    hops = (
        pts.withColumn("px", F.lag("x").over(w))
        .withColumn("py", F.lag("y").over(w))
        .filter(F.col("px").isNotNull())
        .select(
            "user_id",
            F.greatest(
                F.abs(F.col("x") - F.col("px")),
                F.abs(F.col("y") - F.col("py")),
            ).alias("d"),
        )
    )
    # deterministic exact median: rank duplicates arbitrarily but the
    # VALUE at each rank is fixed by the sorted multiset, so the
    # middle values are engine-independent
    ranked = hops.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.col("d").asc())
        ),
    ).withColumn(
        "n", F.count("*").over(Window.partitionBy("user_id"))
    )
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.floor((F.col("n") + 2) / 2)
    mid = ranked.filter(
        (F.col("rn") == lo) | (F.col("rn") == hi)
    )
    return mid.groupBy("user_id").agg(
        F.max("n").alias("n_hops"),
        (F.sum("d").cast("double") / F.count("*").cast("double")).alias(
            "median_jump"
        ),
    )


def _q_trajectory_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory sampling completeness (batch 22): observed
    hourly positions over the user's own first→last hour span — the
    data-quality screen run before trusting any per-user mobility
    metric (a 0.2-complete trajectory's rog is noise). Span math is
    exact integer epoch-hours; one division."""
    pos = _mobility_positions(spark, sf_dir)
    agg = pos.groupBy("user_id").agg(
        F.count("*").alias("n_obs"),
        F.min("hour").alias("h0"),
        F.max("hour").alias("h1"),
    )
    span_h = (
        (F.unix_timestamp("h1") - F.unix_timestamp("h0")) / 3600
    ).cast("bigint") + 1
    return agg.select(
        "user_id",
        "n_obs",
        span_h.alias("span_hours"),
        (
            F.col("n_obs").cast("double") / span_h.cast("double")
        ).alias("completeness"),
    )


def _tuned(fn: Callable[[SparkSession, str], DataFrame]):
    """Apply runtime session tuning (UTC, nanosAsLong, AQE) before each
    query — the driver hands us its own SparkSession."""

    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        tune_for_session(spark)
        return fn(spark, sf_dir)

    return wrapper


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _tuned(v) for k, v in _raw_queries().items()}


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "occupancy_by_region_hour": _q_occupancy,
        "hourly_positions_latest": _q_hourly_positions,
        "trajectory_gap_fill": _q_gap_fill,
        "od_matrix": _q_od_matrix,
        "od_fractions": _q_od_fractions,
        "home_location": _q_home_location,
        "night_single_region_users": _q_night_single_region,
        "mode_event_type_per_user": _q_mode_event_type,
        "user_activity_having": _q_user_activity_having,
        "json_extract_stats": _q_json_extract_stats,
        "pricing_summary": _q_pricing_summary,
        "revenue_by_brand": _q_revenue_by_brand,
        "customers_without_orders": _q_customers_without_orders,
        "parts_with_lineitems": _q_parts_with_lineitems,
        "top_orders_per_customer": _q_top_orders_per_customer,
        "exact_dedup_docs": _q_exact_dedup_docs,
        "text_stats": _q_text_stats,
        "cosine_topk": _q_cosine_topk,
        # batch 2 — relational breadth
        "filter_project": _q_filter_project,
        "case_in_classify": _q_case_in_classify,
        "revenue_by_region": _q_revenue_by_region,
        "running_revenue": _q_running_revenue,
        "brand_dense_rank": _q_brand_dense_rank,
        "two_phase_dense_ids": _q_two_phase_dense_ids,
        "rollup_order_status": _q_rollup_order_status,
        "cube_returnflag": _q_cube_returnflag,
        "union_segments": _q_union_segments,
        "click_and_purchase_users": _q_click_and_purchase_users,
        "click_never_purchase_users": _q_click_never_purchase_users,
        "pivot_hourly_event_counts": _q_pivot_hourly_event_counts,
        "cascade_region_label": _q_cascade_region_label,
        "sessionization": _q_sessionization,
        "event_gap_histogram": _q_event_gap_histogram,
        "first_event_per_user_day": _q_first_event_per_user_day,
        "dedup_keep_latest_per_day": _q_dedup_keep_latest_per_day,
        "haversine_hops": _q_haversine_hops,
        "nearest_poi_type": _q_nearest_poi_type,
        "grid_blocked_nearest_poi": _q_grid_blocked_nearest_poi,
        "active_shipments_monthly": _q_active_shipments_monthly,
        "session_window_stats": _q_session_window_stats,
        "weekday_profile": _q_weekday_profile,
        "occupancy_scaled": _q_occupancy_scaled,
        "occupancy_approx": _q_occupancy_approx,
        # batch 2 — text / similarity / multimodal / streaming
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "simhash_docs": _q_simhash_docs,
        "simhash_docs_weighted": _q_simhash_docs_weighted,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "doc_fingerprint": _q_doc_fingerprint,
        "lang_id": _q_lang_id,
        "token_stats_by_source": _q_token_stats_by_source,
        "embedding_norms": _q_embedding_norms,
        "ann_bucketed": _q_ann_bucketed,
        "ann_banded": _q_ann_banded,
        "ivf_topk": _q_ivf_topk,
        "ivf_health_report": _q_ivf_health_report,
        "ivf_topk_kmeans": _q_ivf_topk_kmeans,
        "semantic_dedup": _q_semantic_dedup,
        "semantic_dedup_kmeans": _q_semantic_dedup_kmeans,
        "label_centroids": _q_label_centroids,
        "q3_shipping_priority": _q_q3_shipping_priority,
        "q10_returned_items": _q_q10_returned_items,
        "doc_sample_10pct": _q_doc_sample_10pct,
        "repetition_signals": _q_repetition_signals,
        "pii_scrub": _q_pii_scrub,
        "frame_samples": _q_frame_samples,
        "zorder_cells": _q_zorder_cells,
        "user_set_ops": _q_user_set_ops,
        "balance_distribution": _q_balance_distribution,
        "value_stats_by_type": _q_value_stats_by_type,
        "unpivot_lineitem_measures": _q_unpivot_lineitem_measures,
        "corpus_split_counts": _q_corpus_split_counts,
        "multimodal_meta": _q_multimodal_meta,
        "multimodal_decode": _q_multimodal_decode,
        "multimodal_decode_png": _q_multimodal_decode_png,
        "multimodal_decode_jpeg": _q_multimodal_decode_jpeg,
        "streaming_occupancy": _q_streaming_occupancy,
        "user_event_type_profile": _q_user_event_type_profile,
        "type_occupancy": _q_type_occupancy,
        "asof_last_purchase": _q_asof_last_purchase,
        "signup_error_full_outer": _q_signup_error_full_outer,
        "top_docs_by_length": _q_top_docs_by_length,
        "occupancy_two_phase": _q_occupancy_two_phase,
        "value_percentiles": _q_value_percentiles,
        "embedding_near_dup": _q_embedding_near_dup,
        "od_weekly_cycle": _q_od_weekly_cycle,
        "geohash_cells": _q_geohash_cells,
        "local_supplier_volume": _q_local_supplier_volume,
        "unshipped_orders_top10": _q_unshipped_orders_top10,
        "order_deciles": _q_order_deciles,
        "price_percent_rank": _q_price_percent_rank,
        "like_filter_parts": _q_like_filter_parts,
        "monthly_order_volume": _q_monthly_order_volume,
        "above_nation_avg_customers": _q_above_nation_avg_customers,
        "rolling_weekly_revenue": _q_rolling_weekly_revenue,
        "grouping_sets_status": _q_grouping_sets_status,
        "value_percentiles_approx": _q_value_percentiles_approx,
        "occupancy_fine_grid": _q_occupancy_fine_grid,
        "next_event_latency": _q_next_event_latency,
        "stay_segments": _q_stay_segments,
        "dwell_stats": _q_dwell_stats,
        "near_dup_clusters": _q_near_dup_clusters,
        "tfidf_search": _q_tfidf_search,
        "bpe_token_count": _q_bpe_token_count,
        "rolling_hash_fingerprint": _q_rolling_hash_fingerprint,
        "value_histogram": _q_value_histogram,
        "hourly_type_share": _q_hourly_type_share,
        "large_volume_customers": _q_large_volume_customers,
        "first_last_region_per_day": _q_first_last_region_per_day,
        "dense_hourly_occupancy": _q_dense_hourly_occupancy,
        "sliding_window_counts": _q_sliding_window_counts,
        "corpus_curation": _q_corpus_curation,
        "benchmark_decontam": _q_benchmark_decontam,
        "dup_passage_stats": _q_dup_passage_stats,
        "sequence_packing": _q_sequence_packing,
        "domain_mix_counts": _q_domain_mix_counts,
        "props_map_explode": _q_props_map_explode,
        # batch 3 — sequence analytics / corpus rarity / skew
        "click_purchase_funnel": _q_click_purchase_funnel,
        "rare_token_stats": _q_rare_token_stats,
        "salted_type_counts": _q_salted_type_counts,
        "region_pagerank": _q_region_pagerank,
        "quantized_cosine_topk": _q_quantized_cosine_topk,
        "region_triangles": _q_region_triangles,
        # batch 4 — quality / sampling / cohorts / sequences / graph / ML
        "data_quality_profile": _q_data_quality_profile,
        "weighted_doc_sample": _q_weighted_doc_sample,
        "cohort_retention": _q_cohort_retention,
        "event_transition_matrix": _q_event_transition_matrix,
        "region_communities": _q_region_communities,
        "kmeans_embeddings": _q_kmeans_embeddings,
        # batch 5 — graph stats / time series / anomaly / scaling / corpus
        "region_degree_stats": _q_region_degree_stats,
        "ewma_user_value": _q_ewma_user_value,
        "value_outliers_by_type": _q_value_outliers_by_type,
        "embedding_minmax_norm": _q_embedding_minmax_norm,
        "stopword_discovery": _q_stopword_discovery,
        "audio_window_energy": _q_audio_window_energy,
        "top_session_paths": _q_top_session_paths,
        "region_bfs_hops": _q_region_bfs_hops,
        "user_covisit_jaccard": _q_user_covisit_jaccard,
        "round_trip_users": _q_round_trip_users,
        "collocations_lift": _q_collocations_lift,
        "shuffle_order": _q_shuffle_order,
        "split_leakage_pairs": _q_split_leakage_pairs,
        # batch 6 (round 5)
        "od_two_hop": _q_od_two_hop,
        "mad_value_anomaly": _q_mad_value_anomaly,
        "cusum_changepoint": _q_cusum_changepoint,
        "seasonal_hod_index": _q_seasonal_hod_index,
        "basket_pairs": _q_basket_pairs,
        "region_kcore": _q_region_kcore,
        "event_stay_range_join": _q_event_stay_range_join,
        "levenshtein_near_keys": _q_levenshtein_near_keys,
        "bm25_search": _q_bm25_search,
        "longest_streaks": _q_longest_streaks,
        "rolling_7d_active_users": _q_rolling_7d_active_users,
        "time_to_conversion": _q_time_to_conversion,
        "first_touch_attribution": _q_first_touch_attribution,
        "quantile_normalize_embeddings": _q_quantile_normalize_embeddings,
        # batch 8 (round 5)
        "random_walk_corpus": _q_random_walk_corpus,
        "concurrent_stays": _q_concurrent_stays,
        "key_skew_profile": _q_key_skew_profile,
        "stratified_split_counts": _q_stratified_split_counts,
        "dense_grid_clusters": _q_dense_grid_clusters,
        "trajectory_overlap": _q_trajectory_overlap,
        # batch 9 (round 5): text-pipeline generation/inspection
        "skipgram_pairs": _q_skipgram_pairs,
        "doc_chunks": _q_doc_chunks,
        "kwic_contexts": _q_kwic_contexts,
        "sentence_stats": _q_sentence_stats,
        "clustering_coefficient": _q_clustering_coefficient,
        "span_corruption_pairs": _q_span_corruption_pairs,
        "graph_summary_stats": _q_graph_summary_stats,
        "embedding_principal_component": _q_embedding_principal_component,
        "region_hits": _q_region_hits,
        # batch 10 (round 5): per-user mobility characteristics
        "radius_of_gyration": _q_radius_of_gyration,
        "location_diversity": _q_location_diversity,
        "top_location_share": _q_top_location_share,
        "jump_length_histogram": _q_jump_length_histogram,
        "visitation_rank_curve": _q_visitation_rank_curve,
        # batch 11 (round 5): corpus statistics for curation
        "chi2_keywords": _q_chi2_keywords,
        "zipf_token_rank": _q_zipf_token_rank,
        "bigram_next_token": _q_bigram_next_token,
        "type_token_ratio": _q_type_token_ratio,
        # batch 12 (round 5): TPC-H relational parity widening
        "q4_order_priority": _q_q4_order_priority,
        "q7_nation_volume": _q_q7_nation_volume,
        "q14_promo_share": _q_q14_promo_share,
        "q15_top_supplier": _q_q15_top_supplier,
        "q19_disjunctive_revenue": _q_q19_disjunctive_revenue,
        "q22_idle_rich": _q_q22_idle_rich,
        "q16_supplier_cnt": _q_q16_supplier_cnt,
        "q17_small_qty_revenue": _q_q17_small_qty_revenue,
        # batch 13 (round 5): graph breadth
        "harmonic_centrality": _q_harmonic_centrality,
        # batch 14 (round 5): sufficient-statistics analytics
        "ols_value_trend": _q_ols_value_trend,
        "benford_digits": _q_benford_digits,
        # batch 15 (round 5): OD diagnostics
        "od_flow_balance": _q_od_flow_balance,
        "region_peak_hour": _q_region_peak_hour,
        # batch 16 (round 5): sketches + time series
        "countmin_heavy_hitters": _q_countmin_heavy_hitters,
        "occupancy_autocorrelation": _q_occupancy_autocorrelation,
        "bloom_membership_report": _q_bloom_membership_report,
        # batch 17 (round 5): mobility modelling + trends
        "gravity_model_fit": _q_gravity_model_fit,
        "weekly_region_growth": _q_weekly_region_growth,
        # batch 18 (round 5): commuter analysis
        "work_location": _q_work_location,
        "commute_matrix": _q_commute_matrix,
        # batch 19 (round 5): flow symmetry + regularity
        "od_symmetry": _q_od_symmetry,
        "user_regularity": _q_user_regularity,
        # batch 20 (round 5): corpus growth + corridor concentration
        "vocab_growth_curve": _q_vocab_growth_curve,
        "hub_dependence": _q_hub_dependence,
        # batch 21 (round 5): visitor diversity + daily user split
        "region_visitor_diversity": _q_region_visitor_diversity,
        "new_vs_returning_daily": _q_new_vs_returning_daily,
        # batch 22 (round 5): jump scale + trajectory quality
        "median_jump_length": _q_median_jump_length,
        "trajectory_completeness": _q_trajectory_completeness,
        # batch 23 (round 6): QA reports + district POI ingest
        "gap_outlier_report": _q_gap_outlier_report,
        "district_poi_profile": _q_district_poi_profile,
        # batch 24 (round 6): TPC-H parity completion over the shipped
        # columns (Q2/Q11/Q20 need the absent partsupp table; Q9/Q12/
        # Q21 adapted as documented in their docstrings)
        "q6_forecast_revenue": _q_q6_forecast_revenue,
        "q8_market_share": _q_q8_market_share,
        "q9_profit_by_nation": _q_q9_profit_by_nation,
        "q12_priority_lateness": _q_q12_priority_lateness,
        "q13_customer_distribution": _q_q13_customer_distribution,
        "q21_waiting_supplier": _q_q21_waiting_supplier,
        # batch 25 (round 6): mobility-literature metrics + closeness
        "region_closeness": _q_region_closeness,
        "exploration_curve": _q_exploration_curve,
        "user_burstiness": _q_user_burstiness,
        # batch 26 (round 6): dedup survivorship
        "dedup_survivors": _q_dedup_survivors,
        "deduped_corpus_stats": _q_deduped_corpus_stats,
        "user_covisit_lsh": _q_user_covisit_lsh,
        "user_covisit_lsh_t90": _q_user_covisit_lsh_t90,
        "near_dup_pairs_auto": _q_near_dup_pairs_auto,
        "near_dup_pairs_t90": _q_near_dup_pairs_t90,
        "simhash_hamming_pairs": _q_simhash_hamming_pairs,
        "simhash_hamming_pairs_h6": _q_simhash_hamming_pairs_h6,
        "containment_pairs": _q_containment_pairs,
        "subsumption_prune": _q_subsumption_prune,
        "subsumption_prune_fixpoint": _q_subsumption_prune_fixpoint,
        "duplicate_spans": _q_duplicate_spans,
        "span_cleaned_stats": _q_span_cleaned_stats,
        "span_cleaned_text": _q_span_cleaned_text,
        "pii_pattern_spans": _q_pii_pattern_spans,
        "pii_redacted_text": _q_pii_redacted_text,
        "pii_cut_text": _q_pii_cut_text,
        # batch 31 (round 12) — URL/domain-aware curation
        "url_domain_extract": _q_url_domain_extract,
        "per_domain_caps": _q_per_domain_caps,
        "url_suffix_mix_counts": _q_url_suffix_mix_counts,
        "domain_blocklist_kept": _q_domain_blocklist_kept,
        "url_canonicalized": _q_url_canonicalized,
        "canonical_url_dedup": _q_canonical_url_dedup,
        "per_domain_best": _q_per_domain_best,
        "linear_quality_scores": _q_linear_quality_scores,
        "curation_scored": _q_curation_scored,
        "pq_adc_topk": _q_pq_adc_topk,
        "pq_topk_refined": _q_pq_topk_refined,
        "ivf_pq_topk": _q_ivf_pq_topk,
        "ivf_pq_topk_refined": _q_ivf_pq_topk_refined,
        "pq_codes_production": _q_pq_codes_production,
        "psl_registered_domains": _q_psl_registered_domains,
        "pq_topk_trained": _q_pq_topk_trained,
        "repetition_stats": _q_repetition_stats,
        "charlm_quality": _q_charlm_quality,
        "scorer_trained": _q_scorer_trained,
        "scorer_trained_scores": _q_scorer_trained_scores,
        "scorer_trained_sig": _q_scorer_trained_sig,
        "scorer_sig_scores": _q_scorer_sig_scores,
        "lang_id_ngram": _q_lang_id_ngram,
        "lang_id_script": _q_lang_id_script,
        "bpe_token_stats_applied": _q_bpe_token_stats_applied,
        "curation_scored_trained": _q_curation_scored_trained,
        "dsir_scores": _q_dsir_scores,
        "dsir_resampled_counts": _q_dsir_resampled_counts,
        "bpe_merges": _q_bpe_merges,
        "bpe_token_stats": _q_bpe_token_stats,
        "sq8_codes": _q_sq8_codes,
        "sq8_topk": _q_sq8_topk,
        "domain_mixture_alpha": _q_domain_mixture_alpha,
        "curation_full": _q_curation_full,
        "curation_full_web": _q_curation_full_web,
        "script_quality_stats": _q_script_quality_stats,
        "curation_multiscript": _q_curation_multiscript,
        "sequence_packing_bpe": _q_sequence_packing_bpe,
        "near_dup_pairs_script": _q_near_dup_pairs_script,
        "dedup_survivors_script": _q_dedup_survivors_script,
        "html_extracted_stats": _q_html_extracted_stats,
        "bpe_compression_by_lang": _q_bpe_compression_by_lang,
        "kmv_distinct_merge": _q_kmv_distinct_merge,
        "kmv_jaccard_types": _q_kmv_jaccard_types,
        "sampled_percentiles": _q_sampled_percentiles,
        "benchmark_decontam_script": _q_benchmark_decontam_script,
        "matryoshka_recall": _q_matryoshka_recall,
        "language_mix_counts": _q_language_mix_counts,
        "quality_calibrated": _q_quality_calibrated,
        "mixture_sampled_counts": _q_mixture_sampled_counts,
        "redacted_cleaned_text": _q_redacted_cleaned_text,
        "tf_cosine_pairs": _q_tf_cosine_pairs,
        "tf_cosine_pairs_auto": _q_tf_cosine_pairs_auto,
        "cluster_size_histogram": _q_cluster_size_histogram,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, ANSI-leaning)
# --------------------------------------------------------------------------

_STOPWORDS_SQL = "['" + "', '".join(tx.EN_STOPWORDS) + "']"

_TOKENS_SQL = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')"
)


# Shared oracle text CTEs -----------------------------------------------

# (doc_id, shingle) distinct 3-gram shingles — mirror of operators.dedup.doc_shingles
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 2),
                  i -> array_to_string(t[i:i+2], ' '))) AS shingle
    FROM toks)
)
"""

_DEC_TOTALPRICE = "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)"

_HEXPOS = "(strpos('0123456789abcdef', substr(md5(text), {j}, 1)) - 1)"

# First-8-hex-digits-of-md5 → 32-bit integer, from a column named `hx`
# (DuckDB has no hex→int cast; digit-by-digit strpos arithmetic yields
# the same integer Spark's conv(substring(md5(..), 1, 8), 16, 10) does).
_HEX8_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)


def _minhash_oracle_parts(k: int = 8, bands: int = 4) -> tuple[str, str]:
    """(CTE block without the WITH keyword, final pair-select) — kept
    separate so downstream oracles (near-dup clusters, split leakage)
    compose them structurally instead of re-parsing rendered SQL,
    which silently miscomposed on any benign reformat."""
    r = k // bands
    mins = ",\n         ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(k)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({expr}) AS band_hash FROM sig".format(
            b=b,
            expr=" || '|' || ".join(f"mh_{i}" for i in range(b * r, (b + 1) * r)),
        )
        for b in range(bands)
    )
    ctes = f"""{_SHINGLES_CTE},
        sig AS (
          SELECT doc_id, {mins}
          FROM sh GROUP BY doc_id
        ),
        bands AS (
        {band_selects}
        )"""
    pair_select = """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id"""
    return ctes, pair_select


def _minhash_oracle(k: int = 8, bands: int = 4) -> str:
    ctes, pair_select = _minhash_oracle_parts(k, bands)
    return f"""
        WITH {ctes}
        {pair_select}
    """


def _doc_lsh_oracle_params(k: int, bands: int, num: int, den: int) -> str:
    """DuckDB mirror of the DOCUMENT-level recall-contract LSH join
    (near_dup_pairs_t90: set_similarity_join_lsh over doc shingles) for an ARBITRARY
    (k, bands) scheme at threshold num/den: distinct 3-gram shingles
    (the shared doc_shingles definition) → k min-md5 signatures →
    band hashes → candidate equi-join with the integer size prune →
    exact shared-shingle verification — the same structure as
    _covisit_lsh_oracle_params, so the round-9 doc-level contract
    banding (choose_lsh_params output) gets the same
    engine-differential check as the covisit one."""
    r = k // bands
    mh_cols = ",\n                 ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(k)
    )
    band_selects = "\n          UNION ALL\n          ".join(
        "SELECT doc_id, sz, {b} AS band, md5({expr}) AS band_hash "
        "FROM sig WHERE mh_0 IS NOT NULL".format(
            b=b,
            expr=" || '|' || ".join(
                f"mh_{i}" for i in range(b * r, (b + 1) * r)
            ),
        )
        for b in range(bands)
    )
    return f"""
        WITH {_SHINGLES_CTE},
        sig AS (
          SELECT doc_id, count(*) AS sz,
                 {mh_cols}
          FROM sh GROUP BY doc_id
        ),
        bands AS (
          {band_selects}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                 a.sz AS sz_a, b.sz AS sz_b
          FROM bands a
          JOIN bands b ON a.band = b.band
                      AND a.band_hash = b.band_hash
                      AND a.doc_id < b.doc_id
          WHERE {den} * least(a.sz, b.sz) >= {num} * greatest(a.sz, b.sz)
        ),
        inter AS (
          SELECT c.da, c.db, c.sz_a, c.sz_b, count(*) AS n_shared
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.da
          JOIN sh sb ON sb.doc_id = c.db AND sb.shingle = sa.shingle
          GROUP BY 1, 2, 3, 4
        )
        SELECT da AS doc_a, db AS doc_b,
               CAST(n_shared AS DOUBLE)
               / CAST(sz_a + sz_b - n_shared AS DOUBLE) AS jaccard
        FROM inter
        WHERE {den} * n_shared >= {num} * (sz_a + sz_b - n_shared)
    """


def _near_dup_clusters_oracle() -> str:
    """Transitive closure of the MinHash pairs via recursive CTE —
    min reachable id per node = the cluster id the iterative Spark
    label propagation converges to."""
    ctes, pairs_select = _minhash_oracle_parts(k=8, bands=4)
    return f"""
        WITH RECURSIVE {ctes},
        pairs AS ({pairs_select}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(src, node) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
        )
        SELECT src AS doc_id, min(node) AS cluster_id
        FROM reach GROUP BY src
    """


def _dedup_survivors_oracle() -> str:
    """Near-dup CC (recursive CTE) + keep-longest survivorship over
    the WHOLE corpus (singletons survive as their own cluster)."""
    ctes, pairs_select = _minhash_oracle_parts(k=8, bands=4)
    return f"""
        WITH RECURSIVE {ctes},
        pairs AS ({pairs_select}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        cnodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(src, node) AS (
          SELECT node, node FROM cnodes
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
        ),
        clusters AS (
          SELECT src AS doc_id, min(node) AS cluster_id
          FROM reach GROUP BY src
        ),
        lab AS (
          SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS nc,
                 coalesce(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
        ),
        ranked AS (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY nc DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM lab
        )
        SELECT cluster_id, n_members, doc_id AS survivor_doc_id,
               nc AS survivor_chars, n_members - 1 AS n_dropped
        FROM ranked WHERE rn = 1
    """


def _covisit_lsh_oracle_params(k: int, bands: int) -> str:
    """DuckDB mirror of set_similarity_join_lsh on the covisit sets
    for an ARBITRARY (k, bands) scheme — generates the same structure
    as the hand-written k=16/8×2 twin below (min-md5 signatures →
    band hashes → candidate equi-join with the integer size prune →
    exact shared-cell verification), so the round-8 recall-contract
    banding (choose_lsh_params output) gets the same engine-
    differential check as the default banding."""
    r = k // bands
    mh_cols = ",\n                     ".join(
        f"min(md5('{i}:' || CAST(cell AS VARCHAR))) AS mh_{i}"
        for i in range(k)
    )
    band_selects = "\n              UNION ALL\n              ".join(
        "SELECT user_id, sz, {b} AS band, md5({expr}) AS band_hash "
        "FROM sig WHERE mh_0 IS NOT NULL".format(
            b=b,
            expr=" || '|' || ".join(
                f"mh_{i}" for i in range(b * r, (b + 1) * r)
            ),
        )
        for b in range(bands)
    )
    return f"""
            WITH sets AS (
              SELECT DISTINCT user_id,
                     (((CAST(floor(value) AS BIGINT) % 2000) + 2000)
                      % 2000) AS cell
              FROM events
            ),
            sig AS (
              SELECT user_id, count(*) AS sz,
                     {mh_cols}
              FROM sets GROUP BY user_id
            ),
            bands AS (
              {band_selects}
            ),
            cand AS (
              SELECT DISTINCT a.user_id AS u1, b.user_id AS u2,
                     a.sz AS sz_a, b.sz AS sz_b
              FROM bands a
              JOIN bands b ON a.band = b.band
                          AND a.band_hash = b.band_hash
                          AND a.user_id < b.user_id
              WHERE 10 * least(a.sz, b.sz) >= 3 * greatest(a.sz, b.sz)
            ),
            inter AS (
              SELECT c.u1, c.u2, c.sz_a, c.sz_b, count(*) AS n_shared
              FROM cand c
              JOIN sets sa ON sa.user_id = c.u1
              JOIN sets sb ON sb.user_id = c.u2 AND sb.cell = sa.cell
              GROUP BY 1, 2, 3, 4
            )
            SELECT u1, u2, n_shared,
                   CAST(n_shared AS DOUBLE)
                   / CAST(sz_a + sz_b - n_shared AS DOUBLE) AS jacc
            FROM inter
            WHERE 10 * n_shared >= 3 * (sz_a + sz_b - n_shared)
    """


def _covisit_lsh_oracle() -> str:
    """DuckDB mirror of set_similarity_join_lsh on the covisit sets:
    min-md5 signatures → 8×2 band hashes → candidate equi-join with
    the integer size prune → exact shared-cell verification."""
    return """
            WITH sets AS (
              SELECT DISTINCT user_id,
                     (((CAST(floor(value) AS BIGINT) % 2000) + 2000)
                      % 2000) AS cell
              FROM events
            ),
            sig AS (
              SELECT user_id, count(*) AS sz,
                     min(md5('0:' || CAST(cell AS VARCHAR))) AS mh_0,
                     min(md5('1:' || CAST(cell AS VARCHAR))) AS mh_1,
                     min(md5('2:' || CAST(cell AS VARCHAR))) AS mh_2,
                     min(md5('3:' || CAST(cell AS VARCHAR))) AS mh_3,
                     min(md5('4:' || CAST(cell AS VARCHAR))) AS mh_4,
                     min(md5('5:' || CAST(cell AS VARCHAR))) AS mh_5,
                     min(md5('6:' || CAST(cell AS VARCHAR))) AS mh_6,
                     min(md5('7:' || CAST(cell AS VARCHAR))) AS mh_7,
                     min(md5('8:' || CAST(cell AS VARCHAR))) AS mh_8,
                     min(md5('9:' || CAST(cell AS VARCHAR))) AS mh_9,
                     min(md5('10:' || CAST(cell AS VARCHAR))) AS mh_10,
                     min(md5('11:' || CAST(cell AS VARCHAR))) AS mh_11,
                     min(md5('12:' || CAST(cell AS VARCHAR))) AS mh_12,
                     min(md5('13:' || CAST(cell AS VARCHAR))) AS mh_13,
                     min(md5('14:' || CAST(cell AS VARCHAR))) AS mh_14,
                     min(md5('15:' || CAST(cell AS VARCHAR))) AS mh_15
              FROM sets GROUP BY user_id
            ),
            bands AS (
              SELECT user_id, sz, 0 AS band, md5(mh_0 || '|' || mh_1) AS band_hash FROM sig WHERE mh_0 IS NOT NULL
              UNION ALL
              SELECT user_id, sz, 1 AS band, md5(mh_2 || '|' || mh_3) AS band_hash FROM sig WHERE mh_0 IS NOT NULL
              UNION ALL
              SELECT user_id, sz, 2 AS band, md5(mh_4 || '|' || mh_5) AS band_hash FROM sig WHERE mh_0 IS NOT NULL
              UNION ALL
              SELECT user_id, sz, 3 AS band, md5(mh_6 || '|' || mh_7) AS band_hash FROM sig WHERE mh_0 IS NOT NULL
              UNION ALL
              SELECT user_id, sz, 4 AS band, md5(mh_8 || '|' || mh_9) AS band_hash FROM sig WHERE mh_0 IS NOT NULL
              UNION ALL
              SELECT user_id, sz, 5 AS band, md5(mh_10 || '|' || mh_11) AS band_hash FROM sig WHERE mh_0 IS NOT NULL
              UNION ALL
              SELECT user_id, sz, 6 AS band, md5(mh_12 || '|' || mh_13) AS band_hash FROM sig WHERE mh_0 IS NOT NULL
              UNION ALL
              SELECT user_id, sz, 7 AS band, md5(mh_14 || '|' || mh_15) AS band_hash FROM sig WHERE mh_0 IS NOT NULL
            ),
            cand AS (
              SELECT DISTINCT a.user_id AS u1, b.user_id AS u2,
                     a.sz AS sz_a, b.sz AS sz_b
              FROM bands a
              JOIN bands b ON a.band = b.band
                          AND a.band_hash = b.band_hash
                          AND a.user_id < b.user_id
              WHERE 10 * least(a.sz, b.sz) >= 3 * greatest(a.sz, b.sz)
            ),
            inter AS (
              SELECT c.u1, c.u2, c.sz_a, c.sz_b, count(*) AS n_shared
              FROM cand c
              JOIN sets sa ON sa.user_id = c.u1
              JOIN sets sb ON sb.user_id = c.u2 AND sb.cell = sa.cell
              GROUP BY 1, 2, 3, 4
            )
            SELECT u1, u2, n_shared,
                   CAST(n_shared AS DOUBLE)
                   / CAST(sz_a + sz_b - n_shared AS DOUBLE) AS jacc
            FROM inter
            WHERE 10 * n_shared >= 3 * (sz_a + sz_b - n_shared)
    """


def _deduped_corpus_stats_oracle() -> str:
    """Survivors recursive CTE + join-back + per-lang profile of the
    surviving corpus (the composed end-to-end dedup pipeline)."""
    ctes, pairs_select = _minhash_oracle_parts(k=8, bands=4)
    return f"""
        WITH RECURSIVE {ctes},
        pairs AS ({pairs_select}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        cnodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(src, node) AS (
          SELECT node, node FROM cnodes
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
        ),
        clusters AS (
          SELECT src AS doc_id, min(node) AS cluster_id
          FROM reach GROUP BY src
        ),
        lab AS (
          SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS nc,
                 coalesce(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
        ),
        ranked AS (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY nc DESC, doc_id ASC) AS rn
          FROM lab
        ),
        survivors AS (SELECT doc_id FROM ranked WHERE rn = 1)
        SELECT d.lang,
               count(*) AS n_docs,
               CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens,
               CAST(sum(CAST(d.n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
               CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
        FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
        GROUP BY d.lang
    """


def _cluster_size_histogram_oracle() -> str:
    ctes, pairs_select = _minhash_oracle_parts(k=8, bands=4)
    return f"""
        WITH RECURSIVE {ctes},
        pairs AS ({pairs_select}),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        cnodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(src, node) AS (
          SELECT node, node FROM cnodes
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
        ),
        clusters AS (
          SELECT src AS doc_id, min(node) AS cluster_id
          FROM reach GROUP BY src
        ),
        sizes AS (
          SELECT cluster_id, count(*) AS size FROM clusters GROUP BY 1
        )
        SELECT size, count(*) AS n_clusters FROM sizes GROUP BY size
    """


def _simhash_votes_sig_sql(nbits: int) -> tuple[str, str]:
    """Shared vote/signature SQL for the SimHash twins — the EXACT
    mirror of operators/dedup.py:simhash's two md5 nibble-lanes: bits
    0–31 test the top bit of hex nibble j (value ≥ 8), bits 32–63 the
    second bit of nibble j−32 (value in {4..7, c..f}); bit 63's place
    value is −2⁶³ so the signature is the same two's-complement
    BIGINT in both engines (partial sums stay in [−2⁶³, 2⁶³−1] —
    positive places total 2⁶³−1, so no evaluation order overflows)."""
    hi = "('8','9','a','b','c','d','e','f')"
    mid = "('4','5','6','7','c','d','e','f')"
    votes = ",\n         ".join(
        (
            f"sum(CASE WHEN substr(h, {j + 1}, 1) IN {hi} "
            f"THEN 1 ELSE -1 END) AS v_{j}"
            if j < 32
            else f"sum(CASE WHEN substr(h, {j - 31}, 1) IN {mid} "
            f"THEN 1 ELSE -1 END) AS v_{j}"
        )
        for j in range(nbits)
    )
    sig = " + ".join(
        f"(CASE WHEN v_{j} > 0 THEN CAST("
        + (str(1 << j) if j < 63 else "-9223372036854775807 - 1")
        + f" AS BIGINT) ELSE 0 END)"
        for j in range(nbits)
    )
    return votes, sig


def _simhash_oracle(nbits: int = 64, weighted: bool = False) -> str:
    """``weighted=True`` drops the DISTINCT before the vote — every
    occurrence tallies, i.e. Σ tf·(±1) per bit — mirroring
    operators/dedup.py:simhash(weighted=True) dropping its
    distinct(); everything else (nibble lanes, vote sign, bit-63
    two's-complement place value) is shared."""
    votes, sig = _simhash_votes_sig_sql(nbits)
    distinct = "" if weighted else "DISTINCT "
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
        tok AS (
          SELECT {distinct}doc_id, tok FROM (
            SELECT doc_id, unnest(t) AS tok FROM toks)
        ),
        h AS (SELECT doc_id, md5(tok) AS h FROM tok),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v
    """


def _simhash_hamming_oracle(nbits: int = 64, max_hamming: int = 3) -> str:
    """DuckDB mirror of the Manku multi-block-LSH hamming join: the
    SAME vote/signature arithmetic as _simhash_oracle, the SAME
    combination blocking as operators/dedup.py:simhash_banding
    (imported, so the twin can never drift from the engine), packed
    values by shift/mask/concat — (sig >> off) & mask yields
    identical low bits under DuckDB's logical and Spark's arithmetic
    shift — candidate equi-join on (combination, packed value),
    verification via bit_count(xor). The complete-cover property is
    what the twin checks (a missing pair on either side fails the
    hash compare)."""
    votes, sig = _simhash_votes_sig_sql(nbits)
    widths, combos = ops.simhash_banding(max_hamming, nbits)
    offsets = [sum(widths[:i]) for i in range(len(widths))]

    def _extract(i: int) -> str:
        w = widths[i]
        if w >= 64:
            return "simhash"
        return f"((simhash >> {offsets[i]}) & {(1 << w) - 1})"

    block_rows = []
    for ci, combo in enumerate(combos):
        val = None
        for i in combo:
            piece = _extract(i)
            val = piece if val is None else f"(({val} << {widths[i]}) + {piece})"
        block_rows.append(
            f"SELECT doc_id, simhash, {ci} AS blk, {val} AS val FROM sig"
        )
    blocks = "\n          UNION ALL\n          ".join(block_rows)
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
        tok AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(t) AS tok FROM toks)
        ),
        h AS (SELECT doc_id, md5(tok) AS h FROM tok),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
        sig AS MATERIALIZED (
          SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v),
        blocks AS (
          {blocks}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sa, b.simhash AS sb
          FROM blocks a
          JOIN blocks b ON a.blk = b.blk AND a.val = b.val
                       AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


def _containment_oracle(num: int = 4, den: int = 5) -> str:
    """DuckDB mirror of the containment prefix-filter join. The
    prefix is any ⌊(1−t)·sz⌋+1-subset by the lemma, so candidate-set
    tie divergence between engines cannot change the verified output;
    both sides still rank by (df, shingle) for the measured pruning."""
    return f"""
        WITH {_SHINGLES_CTE},
        dfr AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
        ranked AS (
          SELECT sh.doc_id, sh.shingle,
                 row_number() OVER (PARTITION BY sh.doc_id
                                    ORDER BY dfr.df, sh.shingle) AS rk,
                 count(*) OVER (PARTITION BY sh.doc_id) AS sz
          FROM sh JOIN dfr USING (shingle)
        ),
        pref AS (
          SELECT doc_id, shingle FROM ranked
          WHERE {den} * (rk - 1) <= {den - num} * sz
        ),
        cand AS (
          SELECT DISTINCT p.doc_id AS doc_a, s.doc_id AS doc_b
          FROM pref p JOIN sh s USING (shingle)
          WHERE p.doc_id <> s.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_shared
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
          GROUP BY 1, 2
        )
        SELECT i.doc_a, i.doc_b,
               CAST(n_shared AS DOUBLE) / CAST(za.sz AS DOUBLE)
                 AS containment
        FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
        WHERE {den} * n_shared >= {num} * za.sz
    """


def _duplicate_spans_oracle(window_words: int = 10, min_docs: int = 2) -> str:
    """DuckDB mirror of the ExactSubstr windowed span extraction:
    identical gram fingerprints (md5 of the space-joined w-slice),
    identical ≥min_docs distinct-document filter, identical
    gaps-and-islands merge (lag-NULL on the first covered position
    falls into the no-break branch in BOTH engines). Built on the
    shared _span_cut_ctes chain (its spans CTE IS this query)."""
    return f"""
        WITH {_span_cut_ctes('documents', window_words, min_docs)}
        SELECT doc_id,
               CAST(s AS INTEGER) AS span_start,
               CAST(e AS INTEGER) AS span_end,
               CAST(e - s + 1 AS INTEGER) AS span_tokens
        FROM spans
    """


def _tf_cosine_oracle(num: int = 9, den: int = 10, n: int = 3) -> str:
    """Deliberately UNPRUNED brute-force twin of the APSS join: same
    tokenizer, n-gram terms WITH multiplicity, integer tf/norm/dot,
    the identical cross-multiplied integer threshold, one
    sqrt+division for the reported value. Being prune-free it
    independently proves the Spark side's Bayardo prefix bound
    dropped no qualifying pair."""
    return f"""
        WITH toks AS (
          SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
        ),
        tok AS (
          SELECT doc_id,
                 array_to_string(t[u.p : u.p + {n - 1}], ' ') AS term
          FROM toks,
               unnest(generate_series(1, len(t) - {n - 1})) AS u(p)
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        ),
        n2 AS (SELECT doc_id, sum(tf * tf) AS na2 FROM tf GROUP BY 1),
        dots AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 sum(a.tf * b.tf) AS dot
          FROM tf a JOIN tf b
            ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               dot / sqrt(CAST(x.na2 AS DOUBLE) * CAST(y.na2 AS DOUBLE)) AS cosine
        FROM dots
        JOIN n2 x ON x.doc_id = doc_a
        JOIN n2 y ON y.doc_id = doc_b
        WHERE CAST({den * den} AS HUGEINT) * dot * dot
              >= CAST({num * num} AS HUGEINT) * x.na2 * y.na2
    """


def _subsumption_oracle(num: int = 4, den: int = 5) -> str:
    """DuckDB mirror of the subsumption prune: the SAME containment
    CTE chain as _containment_oracle, then the strict (sz, smaller-id)
    dominance verdict per contained doc, left-joined back so every
    document gets a row."""
    return f"""
        WITH {_SHINGLES_CTE},
        dfr AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
        ranked AS (
          SELECT sh.doc_id, sh.shingle,
                 row_number() OVER (PARTITION BY sh.doc_id
                                    ORDER BY dfr.df, sh.shingle) AS rk,
                 count(*) OVER (PARTITION BY sh.doc_id) AS sz
          FROM sh JOIN dfr USING (shingle)
        ),
        pref AS (
          SELECT doc_id, shingle FROM ranked
          WHERE {den} * (rk - 1) <= {den - num} * sz
        ),
        cand AS (
          SELECT DISTINCT p.doc_id AS doc_a, s.doc_id AS doc_b
          FROM pref p JOIN sh s USING (shingle)
          WHERE p.doc_id <> s.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS n_shared
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT i.doc_a, i.doc_b
          FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
          WHERE {den} * n_shared >= {num} * za.sz
        ),
        verd AS (
          SELECT p.doc_a AS doc_id,
                 count(*) AS n_containers,
                 max(CASE WHEN sb.sz > sa.sz
                          OR (sb.sz = sa.sz AND p.doc_b < p.doc_a)
                          THEN 1 ELSE 0 END) AS dom
          FROM pairs p
          JOIN sizes sa ON sa.doc_id = p.doc_a
          JOIN sizes sb ON sb.doc_id = p.doc_b
          GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(s.sz, 0) AS sz,
               coalesce(v.n_containers, 0) AS n_containers,
               coalesce(v.dom, 0) = 0 AS kept
        FROM documents d
        LEFT JOIN sizes s ON s.doc_id = d.doc_id
        LEFT JOIN verd v ON v.doc_id = d.doc_id
    """


def _ws_toks_ctes(source: str) -> str:
    """ws (split token arrays) + toks (per-position tokens) CTE block
    over ``source`` (doc_id, text) — the tokenization every positional
    oracle shares."""
    return f"""
        ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM {source}),
        toks AS (
          SELECT ws.doc_id, t.pos, ws.w[t.pos] AS tok
          FROM ws, unnest(generate_series(1, len(ws.w))) AS t(pos)
        )"""


def _span_cut_ctes(source: str, window_words: int, min_docs: int) -> str:
    """ws → grams → dup → covg → brk → isl → spans → cut → toks CTE
    block (no WITH) over ``source`` (doc_id, text) — THE duplicated-
    span extent definition, shared by the manifest, cleaned-text, and
    redact+cut oracles so a fix to the island logic lands in all of
    them at once (round-11 review finding: three verbatim copies)."""
    w = int(window_words)
    return f"""
        {_ws_toks_ctes(source)},
        grams AS (
          SELECT ws.doc_id, t.p,
                 md5(array_to_string(ws.w[t.p : t.p + {w - 1}], ' '))
                   AS digest
          FROM ws, unnest(generate_series(1, len(ws.w) - {w - 1})) AS t(p)
        ),
        dup AS (
          SELECT digest FROM grams
          GROUP BY digest
          HAVING count(DISTINCT doc_id) >= {int(min_docs)}
        ),
        covg AS (
          SELECT g.doc_id, g.p FROM grams g JOIN dup USING (digest)
        ),
        brk AS (
          SELECT doc_id, p,
                 CASE WHEN p > lag(p) OVER
                          (PARTITION BY doc_id ORDER BY p) + {w}
                      THEN 1 ELSE 0 END AS b
          FROM covg
        ),
        isl AS (
          SELECT doc_id, p,
                 sum(b) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
          FROM brk
        ),
        spans AS (
          SELECT doc_id, min(p) AS s, max(p) + {w - 1} AS e
          FROM isl GROUP BY doc_id, island
        ),
        cut AS (
          SELECT spans.doc_id, t.pos
          FROM spans, unnest(generate_series(spans.s, spans.e)) AS t(pos)
        )"""


def _span_cleaned_oracle(
    window_words: int = 10, min_docs: int = 2, hashed: bool = True
) -> str:
    """DuckDB mirror of the span-cut manifest: the shared span CTE
    chain, exploded back to covered positions, anti-joined against
    per-position tokens, rebuilt in pos order and md5'd — token-level
    engine agreement of the whole composition. ``hashed=False`` is the
    span_cleaned_text twin: the identical rebuild with the surviving
    STRING returned instead of its md5."""
    out_col = (
        "md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned"
        if hashed
        else "string_agg(tok, ' ' ORDER BY pos) AS cleaned"
    )
    final = (
        "coalesce(rebuilt.cleaned, md5('')) AS cleaned_md5"
        if hashed
        else "coalesce(rebuilt.cleaned, '') AS cleaned_text"
    )
    return f"""
        WITH {_span_cut_ctes('documents', window_words, min_docs)},
        kept AS (
          SELECT toks.doc_id, toks.pos, toks.tok
          FROM toks ANTI JOIN cut USING (doc_id, pos)
        ),
        rebuilt AS (
          SELECT doc_id, count(*) AS n_kept,
                 {out_col}
          FROM kept GROUP BY doc_id
        ),
        totals AS (SELECT doc_id, len(w) AS n_tokens FROM ws)
        SELECT totals.doc_id,
               CAST(totals.n_tokens AS INTEGER) AS n_tokens,
               CAST(totals.n_tokens - coalesce(rebuilt.n_kept, 0)
                    AS INTEGER) AS n_removed,
               {final}
        FROM totals LEFT JOIN rebuilt USING (doc_id)
    """


def _url_domain_ctes() -> str:
    """CTE block (without the WITH keyword) deriving host and
    registered domain from the planted URLs — the DuckDB restatement
    of functions/urls.py:url_host/url_registered_domain, generated
    from the SAME DEFAULT_MULTI_TLDS tuple so the suffix set can never
    drift between engines. Ends at ``doms(doc_id, url, host,
    reg_domain)``."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        DEFAULT_MULTI_TLDS,
    )

    multi = ", ".join(f"'{t}'" for t in DEFAULT_MULTI_TLDS)
    host = (
        "lower(regexp_replace(regexp_extract(url, "
        "'^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)', 1), "
        "':[0-9]+$', ''))"
    )
    return f"""{_PLANT_URL_CTE},
        hosts AS (
          SELECT doc_id, url, {host} AS host FROM planted_urls
        ),
        doms AS (
          SELECT doc_id, url, host,
                 CASE WHEN len(l) >= 3
                           AND (l[-2] || '.' || l[-1]) IN ({multi})
                      THEN l[-3] || '.' || l[-2] || '.' || l[-1]
                      WHEN len(l) >= 2 THEN l[-2] || '.' || l[-1]
                      ELSE host END AS reg_domain
          FROM (SELECT doc_id, url, host, string_split(host, '.') AS l
                FROM hosts)
        )"""


def _pq_trained_oracle(m: int = 2, ksub: int = 4, dim: int = 64) -> str:
    """Twin of pq_topk_trained: per-subspace unrolled Lloyd chains
    (operators/kmeans.py:kmeans_oracle_ctes, nested WITH so each
    subspace's chain owns its ``e``) produce the codebooks — code c =
    c-th centroid in ascending cluster-label order, exactly
    pq_codebooks_trained's sorted(cents.items()) — then the shared
    encode tail and ADC-pairs CTEs rank top-3."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_oracle_ctes,
    )

    dsub = dim // m
    iters = 2
    parts = [
        """esrc AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
        ),
        e AS (SELECT vec_id, emb FROM esrc)"""
    ]
    for j in range(m):
        sub_cte = f"""
        e AS MATERIALIZED (
          SELECT vec_id, emb[{j * dsub + 1}:{(j + 1) * dsub}] AS emb
          FROM esrc
        )"""
        parts.append(
            f"""cb{j} AS MATERIALIZED (
          WITH {kmeans_oracle_ctes(sub_cte, k=ksub, iterations=iters)}
          SELECT cluster, c FROM cent{iters}
        )"""
        )
    subs_rows = "\n          UNION ALL\n          ".join(
        f"SELECT {j} AS j, row_number() OVER (ORDER BY cluster) - 1 "
        f"AS code, c AS sv FROM cb{j}"
        for j in range(m)
    )
    parts.append(
        f"""subs AS MATERIALIZED (
          {subs_rows}
        ),{_pq_codes_ctes(dsub)},{_pq_pairs_ctes(dsub)}"""
    )
    return (
        "WITH "
        + ",\n        ".join(parts)
        + """
        SELECT query_id, vec_id, cos_r,
               CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
        FROM pq_pairs QUALIFY rank <= 3
    """
    )


def _charlm_oracle() -> str:
    """Twin of charlm_quality: trains the SAME trigram table in SQL
    (integer indexes over the fixed 28-symbol alphabet, add-one
    smoothing over bigram-context counts — one double division per
    cell, no transcendentals) and scores per position with the
    identical ascending 0.0-seeded fold, so mean_p/min_p are
    bit-identical to the Spark literal-array path."""
    code = (
        "CASE WHEN {a} BETWEEN 97 AND 122 THEN {a} - 96 "
        "WHEN {a} = 32 THEN 27 ELSE 0 END"
    )
    c1 = code.format(a="ascii(substr(s, i, 1))")
    c2 = code.format(a="ascii(substr(s, i + 1, 1))")
    c3 = code.format(a="ascii(substr(s, i + 2, 1))")
    return f"""
        WITH norm AS (SELECT doc_id, lower(text) AS s FROM documents),
        pos AS MATERIALIZED (
          SELECT doc_id, i,
                 ({c1}) * 784 + ({c2}) * 28 + ({c3}) + 1 AS idx
          FROM norm, UNNEST(generate_series(1, len(s) - 2)) AS u(i)
          WHERE len(s) >= 3
        ),
        tri AS MATERIALIZED (
          SELECT idx, count(*) AS cnt FROM pos GROUP BY 1
        ),
        ctxc AS (
          SELECT (idx - 1) // 28 AS ctx, sum(cnt) AS c
          FROM tri GROUP BY 1
        ),
        scored AS (
          SELECT p.doc_id, p.i,
                 CAST(coalesce(t.cnt, 0) + 1 AS DOUBLE)
                 / CAST(coalesce(c.c, 0) + 28 AS DOUBLE) AS prob
          FROM pos p
          LEFT JOIN tri t USING (idx)
          LEFT JOIN ctxc c ON c.ctx = (p.idx - 1) // 28
        ),
        agg AS (
          SELECT doc_id, count(*) AS n,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(prob ORDER BY i)), (a, b) -> a + b) AS tot,
                 min(prob) AS mn
          FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(a.n, 0) AS BIGINT) AS n_trigrams,
               CASE WHEN coalesce(a.n, 0) > 0
                    THEN round(a.tot / a.n, 6) ELSE 0.0 END AS mean_p,
               CASE WHEN coalesce(a.n, 0) > 0
                    THEN round(a.mn, 6) ELSE 0.0 END AS min_p
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """


def _psl_oracle() -> str:
    """Full SQL twin of psl_registered_domains: the planted hosts, the
    rules dim GENERATED FROM THE SAME _PSL_RULES tuple (parsed by the
    same marker rules — '*.'/'!' — as functions/urls.py:psl_rules_dim),
    the candidate explode, the exact/wildcard match, the
    exception-first-then-longest prevail, and both paths' registered
    domains; the subset path reuses DEFAULT_MULTI_TLDS verbatim."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        DEFAULT_MULTI_TLDS,
    )

    rows = []
    for r in _PSL_RULES:
        r = r.strip()
        is_exc = r.startswith("!")
        is_wild = r.startswith("*.")
        base = r[1:] if is_exc else (r[2:] if is_wild else r)
        rows.append(
            f"('{base}', {'TRUE' if is_wild else 'FALSE'}, "
            f"{'TRUE' if is_exc else 'FALSE'}, {base.count('.') + 1})"
        )
    multi = ", ".join(f"'{t}'" for t in DEFAULT_MULTI_TLDS)
    return f"""
        WITH hosts AS (
          SELECT doc_id,
            CASE CAST(doc_id % 7 AS INTEGER)
              WHEN 0 THEN 'www.site' || CAST(doc_id % 13 AS VARCHAR)
                          || '.com'
              WHEN 1 THEN 'deep.blog.site' || CAST(doc_id % 13 AS VARCHAR)
                          || '.co.uk'
              WHEN 2 THEN 'site' || CAST(doc_id % 13 AS VARCHAR)
                          || '.gov.cn'
              WHEN 3 THEN 'a.site' || CAST(doc_id % 13 AS VARCHAR)
                          || '.nom.br'
              WHEN 4 THEN 'x.city.kawasaki.jp'
              WHEN 5 THEN 'cdn.site' || CAST(doc_id % 13 AS VARCHAR)
                          || '.org'
              ELSE 'co.uk' END AS host
          FROM documents
        ),
        rules(base, is_wild, is_exc, n_labels) AS (
          VALUES {', '.join(rows)}
        ),
        lab AS (SELECT doc_id, host, string_split(host, '.') AS l
                FROM hosts),
        cands AS (
          SELECT doc_id, host,
                 array_to_string(l[i:], '.') AS cand,
                 CASE WHEN i > 1 THEN l[i-1] END AS prev_label,
                 CASE WHEN i < len(l)
                      THEN array_to_string(l[i+1:], '.') END AS cand_tail,
                 len(l) - i + 1 AS cand_labels
          FROM lab, UNNEST(generate_series(greatest(1, len(l) - 7),
                                           len(l))) AS t(i)
        ),
        matched AS (
          SELECT c.doc_id, r.is_exc,
                 CASE WHEN r.is_exc THEN c.cand_labels - 1
                      ELSE c.cand_labels END AS ps_labels,
                 CASE WHEN r.is_exc THEN c.cand_tail
                      ELSE c.cand END AS ps,
                 CASE WHEN r.is_exc THEN c.cand
                      WHEN c.prev_label IS NOT NULL
                      THEN c.prev_label || '.' || c.cand
                 END AS reg
          FROM cands c JOIN rules r
            ON (NOT r.is_wild AND c.cand = r.base)
            OR (r.is_wild AND c.cand_tail = r.base)
        ),
        prevail AS (
          SELECT doc_id, reg FROM matched
          QUALIFY row_number() OVER (PARTITION BY doc_id
            ORDER BY is_exc DESC, ps_labels DESC, ps DESC) = 1
        )
        SELECT l.doc_id, l.host,
               CASE WHEN p.doc_id IS NOT NULL THEN p.reg
                    WHEN len(l.l) >= 2 THEN l.l[-2] || '.' || l.l[-1]
               END AS reg_psl,
               CASE WHEN len(l.l) >= 3
                         AND (l.l[-2] || '.' || l.l[-1]) IN ({multi})
                    THEN l.l[-3] || '.' || l.l[-2] || '.' || l.l[-1]
                    WHEN len(l.l) >= 2 THEN l.l[-2] || '.' || l.l[-1]
                    ELSE l.host END AS reg_subset
        FROM lab l LEFT JOIN prevail p ON l.doc_id = p.doc_id
    """


def _pq_oracle_ctes(m: int = 8, ksub: int = 16, dsub: int = 8) -> str:
    """CTE block (without the WITH keyword) of the PQ pipeline — the
    DuckDB restatement of operators/pq.py: the md5-stratified codebook
    rows sliced per subspace, argmin encoding, reconstructed norms,
    per-query ADC lookup tables, and the all-pairs ADC cosine. Ends at
    ``pq_pairs(query_id, vec_id, cos_r)`` with ``codes``, ``qv``,
    ``qlut``, ``vnorm`` available for the IVF/refine compositions.
    Every float fold is 0.0-seeded (list_prepend) in the same order as
    the Spark expressions, so cos_r is bit-identical."""
    return _pq_encode_ctes(m, ksub, dsub) + "," + _pq_pairs_ctes(dsub)


def _pq_pairs_ctes(dsub: int = 8) -> str:
    """The QUERY half of the PQ twin (per-query LUTs → ADC cosine),
    composable over any upstream that defines ``e``, ``subs``,
    ``codes`` and ``vnorm`` — the sample-codebook chain
    (:func:`_pq_encode_ctes`) or the trained per-subspace Lloyd
    chains (pq_topk_trained's twin)."""
    return f"""
        qv AS MATERIALIZED (
          SELECT vec_id AS query_id, emb AS q_emb,
                 sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(emb, x -> x * x)), (p, q) -> p + q))
                   AS q_norm
          FROM e WHERE vec_id < 5
        ),
        qlut AS MATERIALIZED (
          SELECT q.query_id, s.j, s.code,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, {dsub}), i ->
                     q.q_emb[s.j * {dsub} + i] * s.sv[i])),
                   (p, q2) -> p + q2) AS dotv
          FROM qv q CROSS JOIN subs s
        ),
        adc AS (
          SELECT l.query_id, c.vec_id,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(l.dotv ORDER BY c.j)), (a, b) -> a + b) AS adot
          FROM codes c JOIN qlut l ON l.j = c.j AND l.code = c.code
          GROUP BY l.query_id, c.vec_id
        ),
        pq_pairs AS (
          SELECT a.query_id, a.vec_id,
                 round(a.adot / (q.q_norm * v.anorm), 6) AS cos_r
          FROM adc a
          JOIN qv q USING (query_id)
          JOIN vnorm v USING (vec_id)
          WHERE a.vec_id <> a.query_id
        )"""


def _pq_encode_ctes(m: int = 8, ksub: int = 16, dsub: int = 8) -> str:
    """The ENCODE half of the PQ twin (codebook → argmin codes →
    reconstructed norms), parameterized so the production one-byte
    width (ksub=256) reuses it — ends at ``codes(vec_id, j, code)``
    and ``vnorm(vec_id, anorm)``."""
    return f"""e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        ),
        cb AS (
          SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code,
                 emb
          FROM (SELECT vec_id, emb FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {ksub})
        ),
        js AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
        subs AS MATERIALIZED (
          SELECT js.j, cb.code,
                 cb.emb[js.j * {dsub} + 1 : (js.j + 1) * {dsub}] AS sv
          FROM cb CROSS JOIN js
        ),""" + _pq_codes_ctes(dsub)


def _pq_codes_ctes(dsub: int = 8) -> str:
    """The ENCODE tail (per-(subspace, code) squared norms → argmin
    codes → reconstructed vector norms) over any upstream defining
    ``e(vec_id, emb)`` and ``subs(j, code, sv)`` — shared by the
    sample-codebook chain and pq_topk_trained's per-subspace Lloyd
    twin."""
    return f"""
        subn AS (
          SELECT j, code,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(sv, x -> x * x)), (p, q) -> p + q) AS sq
          FROM subs
        ),
        codes AS MATERIALIZED (
          SELECT vec_id, j, code FROM (
            SELECT e.vec_id, s.j, s.code,
                   row_number() OVER (PARTITION BY e.vec_id, s.j
                     ORDER BY list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(generate_series(1, {dsub}), i ->
                         (e.emb[s.j * {dsub} + i] - s.sv[i])
                         * (e.emb[s.j * {dsub} + i] - s.sv[i]))),
                       (p, q) -> p + q) ASC, s.code ASC) AS rn
            FROM e CROSS JOIN subs s
          ) WHERE rn = 1
        ),
        vnorm AS MATERIALIZED (
          SELECT c.vec_id,
                 sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(n.sq ORDER BY c.j)), (a, b) -> a + b)) AS anorm
          FROM codes c JOIN subn n ON n.j = c.j AND n.code = c.code
          GROUP BY c.vec_id
        )"""


def _url_canon_ctes() -> str:
    """CTE block (without WITH) of the URL canonicalizer over the
    planted crawl variants — the DuckDB restatement of
    functions/urls.py:url_canonicalize, step for step (shared regex
    PATTERNS; only the replacement-string dialect differs, $1 vs \\1).
    Ends at ``canon(doc_id, url, canon_url)``."""
    strip_scheme = (
        "regexp_replace(regexp_replace(url, "
        "'^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '')"
    )
    return f"""{_PLANT_MESSY_URL_CTE},
        parts AS (
          SELECT doc_id, url,
                 lower(regexp_extract(url,
                   '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 lower(regexp_replace(regexp_extract({strip_scheme},
                   '^([^/?#]*)', 1), '^[^@]*@', '')) AS hostport,
                 regexp_extract(regexp_replace({strip_scheme},
                   '^[^/?#]*', ''), '^([^?]*)', 1) AS path,
                 regexp_replace(regexp_replace({strip_scheme},
                   '^[^/?#]*', ''), '^[^?]*\\??', '') AS query
          FROM planted_messy
        ),
        normd AS (
          SELECT doc_id, url, scheme,
                 CASE WHEN scheme = 'http'
                      THEN regexp_replace(hostport, ':80$', '')
                      WHEN scheme = 'https'
                      THEN regexp_replace(hostport, ':443$', '')
                      ELSE hostport END AS host,
                 regexp_replace(path, '(.)/$', '\\1') AS path_s,
                 list_sort(list_filter(string_split(query, '&'),
                   p -> p <> '' AND NOT regexp_matches(p,
                     '^(utm_[a-z]+|gclid|fbclid|ref)='))) AS params
          FROM parts
        ),
        canon AS (
          SELECT doc_id, url,
                 CASE WHEN scheme = '' THEN NULL
                      ELSE scheme || '://' || host
                        || (CASE WHEN path_s = '' THEN '/' ELSE path_s END)
                        || (CASE WHEN len(params) > 0
                            THEN '?' || array_to_string(params, '&')
                            ELSE '' END)
                 END AS canon_url
          FROM normd
        )"""


def _sq(s: str) -> str:
    """Escape a string for embedding in a single-quoted SQL literal
    (round-11 ADVICE: a pattern carrying a quote would break — or
    inject into — the generated oracle SQL; the shipped PII_PATTERNS
    are quote-free, but the generator should not depend on that)."""
    return s.replace("'", "''")


def _pii_kind_case_sql(tok: str) -> str:
    """DuckDB CASE chain mirroring operators/dedup.py:_pii_kind —
    generated from the SAME PII_PATTERNS dict in the same order, so
    precedence cannot drift between engines. The patterns use only
    the Java/RE2-common regex subset (anchored classes + bounded
    quantifiers), which is what makes one pattern string serve both
    rlike and regexp_matches."""
    branches = " ".join(
        f"WHEN regexp_matches({tok}, '{_sq(pat)}') THEN '{_sq(kind)}'"
        for kind, pat in ops.PII_PATTERNS.items()
    )
    return f"CASE {branches} END"


def _pii_placeholder_case_sql(tok: str) -> str:
    branches = " ".join(
        f"WHEN regexp_matches({tok}, '{_sq(pat)}') THEN '<{_sq(kind.upper())}>'"
        for kind, pat in ops.PII_PATTERNS.items()
    )
    return f"CASE {branches} ELSE {tok} END"


def _pii_match_sql(tok: str) -> str:
    return " OR ".join(
        f"regexp_matches({tok}, '{_sq(pat)}')"
        for pat in ops.PII_PATTERNS.values()
    )


def _pii_pattern_spans_oracle() -> str:
    return f"""
        WITH {_PLANT_PII_CTE},
        {_ws_toks_ctes('planted')}
        SELECT doc_id, CAST(pos AS INTEGER) AS span_start,
               CAST(pos AS INTEGER) AS span_end,
               {_pii_kind_case_sql('tok')} AS kind
        FROM toks
        WHERE {_pii_match_sql('tok')}
    """


def _pii_redacted_oracle() -> str:
    return f"""
        WITH {_PLANT_PII_CTE},
        ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM planted)
        SELECT doc_id,
               CAST(len(w) AS INTEGER) AS n_tokens,
               CAST(len(list_filter(w, t -> {_pii_match_sql('t')}))
                    AS INTEGER) AS n_redacted,
               array_to_string(
                 list_transform(w, t -> {_pii_placeholder_case_sql('t')}),
                 ' ') AS redacted_text
        FROM ws
    """


def _pii_cut_oracle() -> str:
    """DuckDB twin of apply_span_cut ∘ pattern_spans on the planted
    corpus: matched token positions anti-joined out, survivors
    rebuilt in order — the generic cut engine-checked."""
    return f"""
        WITH {_PLANT_PII_CTE},
        {_ws_toks_ctes('planted')},
        cut AS (
          SELECT doc_id, pos FROM toks WHERE {_pii_match_sql('tok')}
        ),
        kept AS (
          SELECT toks.doc_id, toks.pos, toks.tok
          FROM toks ANTI JOIN cut USING (doc_id, pos)
        ),
        rebuilt AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(tok, ' ' ORDER BY pos) AS cleaned
          FROM kept GROUP BY doc_id
        ),
        totals AS (SELECT doc_id, len(w) AS n_tokens FROM ws)
        SELECT totals.doc_id,
               CAST(totals.n_tokens AS INTEGER) AS n_tokens,
               CAST(totals.n_tokens - coalesce(rebuilt.n_kept, 0)
                    AS INTEGER) AS n_removed,
               coalesce(rebuilt.cleaned, '') AS cleaned_text
        FROM totals LEFT JOIN rebuilt USING (doc_id)
    """


def _redact_clean_oracle(window_words: int = 10, min_docs: int = 2) -> str:
    """DuckDB twin of the fused curation tail: the SHARED span-cut CTE
    chain (_span_cut_ctes) over the PII-PLANTED corpus, with the
    surviving tokens run through the placeholder CASE — pins span
    removal, masking, and their one-pass composition at the character
    level. One extent definition serves this, the manifest, the
    cleaned-text, and the duplicate_spans oracles."""
    return f"""
        WITH {_PLANT_PII_CTE},
        {_span_cut_ctes('planted', window_words, min_docs)},
        kept AS (
          SELECT toks.doc_id, toks.pos,
                 {_pii_placeholder_case_sql('toks.tok')} AS tok,
                 CASE WHEN {_pii_match_sql('toks.tok')}
                      THEN 1 ELSE 0 END AS red
          FROM toks ANTI JOIN cut USING (doc_id, pos)
        ),
        rebuilt AS (
          SELECT doc_id, count(*) AS n_kept, sum(red) AS n_red,
                 string_agg(tok, ' ' ORDER BY pos) AS cleaned
          FROM kept GROUP BY doc_id
        ),
        totals AS (SELECT doc_id, len(w) AS n_tokens FROM ws)
        SELECT totals.doc_id,
               CAST(totals.n_tokens AS INTEGER) AS n_tokens,
               CAST(totals.n_tokens - coalesce(rebuilt.n_kept, 0)
                    AS INTEGER) AS n_removed,
               CAST(coalesce(rebuilt.n_red, 0) AS INTEGER) AS n_redacted,
               coalesce(rebuilt.cleaned, '') AS cleaned_text
        FROM totals LEFT JOIN rebuilt USING (doc_id)
    """


def _quality_margin_ctes(salt: str = "qs", bias: float = 0.0) -> str:
    """CTE block (without the WITH keyword) computing the linear
    quality-classifier margin — the DuckDB restatement of
    functions/scorer.py:linear_quality_margin, generated from the SAME
    demo_weights list so classifier and twin can never drift. Expects
    an upstream CTE ``t(doc_id, toks)``; ends at ``marg(doc_id,
    n_feats, margin)``. Same 0.0-seeded document-order fold
    (list_prepend seeds list_reduce) and floor-form rounding as the
    Spark side."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        demo_weights,
    )

    ws = demo_weights(64)
    nb = len(ws)
    wlit = "CAST([" + ", ".join(repr(w) for w in ws) + "] AS DOUBLE[])"
    hex8 = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('{salt}:' || x), "
        f"{i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
        feats AS (
          SELECT doc_id,
                 toks || (CASE WHEN len(toks) >= 2
                          THEN list_transform(
                                 generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])
                          ELSE CAST([] AS VARCHAR[]) END) AS f
          FROM t
        ),
        marg AS (
          SELECT doc_id, CAST(len(f) AS INTEGER) AS n_feats,
                 floor((CASE WHEN len(f) > 0
                        THEN list_reduce(
                               list_prepend(CAST(0.0 AS DOUBLE),
                                 list_transform(f, x ->
                                   ({wlit})[CAST(({hex8}) % {nb}
                                            AS INTEGER) + 1])),
                               (a, b) -> a + b) / len(f)
                             + CAST({float(bias)!r} AS DOUBLE)
                        ELSE CAST({float(bias)!r} AS DOUBLE) END)
                       * 1000000.0 + 0.5) / 1000000.0 AS margin
          FROM feats
        )"""


def _scorer_base_ctes():
    """The CTE prefix both scorer-fit twins share — features, the
    dense count vectors ``cv``, ``nn(n, ybar)``, the centering pass
    ``mus``/``mul`` and ``w0`` — plus the SQL fragments their epochs
    use: (base, m9, m12, dec, cv_fold, mw_fold). The precision comes
    from the fits' own constants (scorer.ROUND_SCALE, ADDEND_SCALE)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        ADDEND_SCALE,
        ROUND_SCALE,
    )

    nb, salt = _SCORER_NB, "qs"  # scorer.hashed_count_rows' salt
    m9 = f"{10**ROUND_SCALE}.0"
    m12 = f"{10**ADDEND_SCALE}.0"
    dec = f"DECIMAL(38,{ADDEND_SCALE})"
    hex8 = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('{salt}:' || x), "
        f"{i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {nb}), i -> {{terms}})), "
        "(a, b) -> a + b)"
    )
    cv_fold = fold.format(terms="CAST(cvec[i] AS DOUBLE) * wl[i]")
    mw_fold = fold.format(terms="ml[i] * wl[i]")
    base = f"""
        d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' {_SCORER_PLANT}' ELSE text END AS text,
                 CAST(doc_id % 3 = 0 AS INTEGER) AS y
          FROM documents
        ),
        t AS (SELECT doc_id, y, {_TOKENS_SQL} AS toks FROM d),
        f0 AS (
          SELECT doc_id, y,
                 toks || (CASE WHEN len(toks) >= 2
                          THEN list_transform(
                                 generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])
                          ELSE CAST([] AS VARCHAR[]) END) AS f
          FROM t
        ),
        fb AS MATERIALIZED (
          SELECT doc_id, y, CAST(len(f) AS INTEGER) AS k,
                 list_transform(f, x ->
                   CAST(({hex8}) % {nb} AS INTEGER)) AS bidx
          FROM f0 WHERE len(f) > 0
        ),
        fx AS MATERIALIZED (
          SELECT doc_id, k, b, CAST(count(*) AS INTEGER) AS c
          FROM (SELECT doc_id, k, unnest(bidx) AS b FROM fb)
          GROUP BY 1, 2, 3
        ),
        dims AS MATERIALIZED (
          SELECT unnest(generate_series(0, {nb - 1})) AS b
        ),
        cv AS MATERIALIZED (
          SELECT fb.doc_id, fb.y, fb.k,
                 list(coalesce(fx.c, 0) ORDER BY dims.b) AS cvec
          FROM fb CROSS JOIN dims
          LEFT JOIN fx ON fx.doc_id = fb.doc_id AND fx.b = dims.b
          GROUP BY 1, 2, 3
        ),
        nn AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS DOUBLE) / count(*) AS ybar
          FROM cv
        ),
        mu0 AS (
          SELECT b,
                 sum(CAST(floor((CAST(c AS DOUBLE) / CAST(k AS DOUBLE))
                       * {m12} + 0.5) / {m12} AS {dec})) AS s
          FROM fx GROUP BY 1
        ),
        mus AS MATERIALIZED (
          SELECT dims.b,
                 floor((CAST(coalesce(mu0.s, 0) AS DOUBLE) / nn.n)
                       * {m9} + 0.5) / {m9} AS mu
          FROM dims CROSS JOIN nn
          LEFT JOIN mu0 ON mu0.b = dims.b
        ),
        mul AS MATERIALIZED (SELECT list(mu ORDER BY b) AS ml FROM mus),
        w0 AS MATERIALIZED (SELECT b, CAST(0.0 AS DOUBLE) AS w FROM dims)"""
    return base, m9, m12, dec, cv_fold, mw_fold


def _scorer_fit_ctes() -> str:
    """CTE block (without WITH) re-running the ENTIRE distributed
    classifier fit of functions/scorer.py:scorer_fit_ls in DuckDB —
    the kmeans_oracle_ctes precedent at GD grain. Ends at
    ``wfin(b, w)`` (trained weights), ``biasx(bias)``, plus ``cv``/
    ``wlf`` for scoring. Parity rules restated relationally, at the
    fit's own precision constants (scorer.ADDEND_SCALE, ROUND_SCALE):
    12dp floor-rounded addends summed as DECIMAL(38,12), ascending
    0.0-seeded list_reduce folds for every per-doc score and the μ·w
    scalar, floor-form 9dp weight rounding per epoch — pure IEEE ops
    on identical inputs, so each epoch's weights (and therefore the
    final vector) are bit-identical to the Spark fit."""
    epochs, eta = _SCORER_EPOCHS, _SCORER_ETA
    base, m9, m12, dec, cv_fold, mw_fold = _scorer_base_ctes()
    parts = [base]
    for r in range(1, epochs + 1):
        p = r - 1
        parts.append(
            f"""
        wl{p} AS (SELECT list(w ORDER BY b) AS wl FROM w{p}),
        mw{p} AS (SELECT {mw_fold} AS mw FROM mul, wl{p}),
        mg{r} AS MATERIALIZED (
          SELECT doc_id, k, cvec,
                 (CAST(y AS DOUBLE) - nn.ybar)
                 - ({cv_fold} / CAST(k AS DOUBLE) - mw{p}.mw) AS r
          FROM cv, wl{p}, mw{p}, nn
        ),
        tt{r} AS (
          SELECT CAST(sum(CAST(floor(r * {m12} + 0.5) / {m12}
                   AS {dec})) AS DOUBLE) AS t
          FROM mg{r}
        ),
        ss{r} AS MATERIALIZED (
          SELECT dims.b,
                 CAST(sum(CAST(floor(((m.r * CAST(m.cvec[dims.b + 1]
                       AS DOUBLE)) / CAST(m.k AS DOUBLE))
                       * {m12} + 0.5) / {m12}
                   AS {dec})) AS DOUBLE) AS s
          FROM mg{r} m CROSS JOIN dims GROUP BY 1
        ),
        w{r} AS MATERIALIZED (
          SELECT p.b,
                 floor((p.w + {float(eta)!r} * ((ss{r}.s - mus.mu * tt{r}.t)
                       / nn.n)) * {m9} + 0.5) / {m9} AS w
          FROM w{p} p
          JOIN ss{r} ON ss{r}.b = p.b
          JOIN mus ON mus.b = p.b, tt{r}, nn
        )"""
        )
    parts.append(
        f"""
        wfin AS MATERIALIZED (SELECT b, w FROM w{epochs}),
        wlf AS MATERIALIZED (SELECT list(w ORDER BY b) AS wl FROM wfin),
        mwf AS (SELECT {mw_fold} AS mw FROM mul, wlf),
        biasx AS (
          SELECT floor((nn.ybar - mwf.mw) * {m9} + 0.5) / {m9} AS bias
          FROM nn, mwf
          WHERE nn.n > 0
        )"""
    )
    return ",".join(parts)


def _scorer_sig_ctes() -> str:
    """CTE block (without WITH) re-running the CALIBRATED sigmoid-link
    fit of functions/scorer.py:scorer_fit_sig — the _scorer_fit_ctes
    epochs over the same _scorer_base_ctes prefix, with the
    algebraic-sigmoid gradient and a jointly-trained intercept. σ̃ and σ̃′ are +,−,×,÷,abs only (no exp), so every
    epoch's weights AND bias are bit-identical across engines; the
    expression text mirrors the Spark operator order exactly
    (0.5 + 0.5·z/az parses left-assoc in both). Ends at ``wfin(b, w)``
    and ``biasx(bias)`` (serving bias b₀ − μ·w, zero rows on an empty
    corpus — the Spark empty-input contract), plus ``cv``/``wlf`` for
    scoring."""
    epochs, eta, eta_bias = _SCORER_EPOCHS, _SCORER_SIG_ETA, _SCORER_SIG_ETA_B
    base, m9, m12, dec, cv_fold, mw_fold = _scorer_base_ctes()
    parts = [
        base,
        """
        bb0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0)""",
    ]
    for r in range(1, epochs + 1):
        p = r - 1
        parts.append(
            f"""
        wl{p} AS (SELECT list(w ORDER BY b) AS wl FROM w{p}),
        mw{p} AS (SELECT {mw_fold} AS mw FROM mul, wl{p}),
        mg{r} AS MATERIALIZED (
          SELECT doc_id, k, cvec,
                 ((0.5 + 0.5 * z / (1.0 + abs(z)))
                   - CAST(y AS DOUBLE))
                 * (0.5 / ((1.0 + abs(z)) * (1.0 + abs(z)))) AS g
          FROM (
            SELECT doc_id, y, k, cvec,
                   {cv_fold} / CAST(k AS DOUBLE) - mw{p}.mw + bb{p}.b0 AS z
            FROM cv, wl{p}, mw{p}, bb{p}
          )
        ),
        tt{r} AS (
          SELECT CAST(sum(CAST(floor(g * {m12} + 0.5) / {m12}
                   AS {dec})) AS DOUBLE) AS t
          FROM mg{r}
        ),
        ss{r} AS MATERIALIZED (
          SELECT dims.b,
                 CAST(sum(CAST(floor(((m.g * CAST(m.cvec[dims.b + 1]
                       AS DOUBLE)) / CAST(m.k AS DOUBLE))
                       * {m12} + 0.5) / {m12}
                   AS {dec})) AS DOUBLE) AS s
          FROM mg{r} m CROSS JOIN dims GROUP BY 1
        ),
        w{r} AS MATERIALIZED (
          SELECT p.b,
                 floor((p.w - {float(eta)!r} * (ss{r}.s / nn.n))
                       * {m9} + 0.5) / {m9} AS w
          FROM w{p} p
          JOIN ss{r} ON ss{r}.b = p.b, tt{r}, nn
        ),
        bb{r} AS (
          SELECT floor((bb{p}.b0 - {float(eta_bias)!r} * (tt{r}.t / nn.n))
                       * {m9} + 0.5) / {m9} AS b0
          FROM bb{p}, tt{r}, nn
        )"""
        )
    parts.append(
        f"""
        wfin AS MATERIALIZED (SELECT b, w FROM w{epochs}),
        wlf AS MATERIALIZED (SELECT list(w ORDER BY b) AS wl FROM wfin),
        mwf AS (SELECT {mw_fold} AS mw FROM mul, wlf),
        biasx AS (
          SELECT floor((bb{epochs}.b0 - mwf.mw) * {m9} + 0.5) / {m9} AS bias
          FROM bb{epochs}, mwf, nn
          WHERE nn.n > 0
        )"""
    )
    return ",".join(parts)


def _sq8_ctes(dim: int = 64) -> str:
    """CTE block (without WITH) of the SQ8 pipeline — per-dim min/max
    training, floor-form affine encoding (clamped, constant dims → 0),
    code-determined norms, and the dequantize-and-dot pairs. Every
    fold ascending-dim and 0.0-seeded; ends at ``spairs(query_id,
    vec_id, cos_r)`` with ``scodes``/``svn``/``sml`` available."""
    return f"""
        e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        ),
        sdims AS MATERIALIZED (
          SELECT unnest(generate_series(1, {dim})) AS d
        ),
        sdim AS MATERIALIZED (
          SELECT d, min(emb[d]) AS mn,
                 (max(emb[d]) - min(emb[d])) / 255.0 AS sc
          FROM e CROSS JOIN sdims GROUP BY 1
        ),
        sml AS MATERIALIZED (
          SELECT list(mn ORDER BY d) AS ml, list(sc ORDER BY d) AS sl
          FROM sdim
        ),
        scodes AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(generate_series(1, {dim}), i ->
                   CASE WHEN sl[i] = 0.0 THEN 0
                        ELSE CAST(least(255.0, greatest(0.0,
                          floor((emb[i] - ml[i]) / sl[i] + 0.5)))
                          AS INTEGER) END) AS codes
          FROM e, sml
        ),
        svn AS MATERIALIZED (
          SELECT vec_id,
                 sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, {dim}), i ->
                     (ml[i] + CAST(codes[i] AS DOUBLE) * sl[i])
                     * (ml[i] + CAST(codes[i] AS DOUBLE) * sl[i]))),
                   (p, q) -> p + q)) AS anorm
          FROM scodes, sml
        ),
        squ AS MATERIALIZED (
          SELECT vec_id AS query_id, emb AS q_emb,
                 sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(emb, x -> x * x)), (p, q) -> p + q))
                   AS q_norm
          FROM e WHERE vec_id < 5
        ),
        spairs AS (
          SELECT q.query_id, c.vec_id,
                 round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, {dim}), i ->
                     q.q_emb[i] * (ml[i]
                       + CAST(c.codes[i] AS DOUBLE) * sl[i]))),
                   (p, q) -> p + q) / (q.q_norm * v.anorm), 6) AS cos_r
          FROM scodes c
          JOIN svn v USING (vec_id)
          CROSS JOIN squ q, sml
          WHERE c.vec_id <> q.query_id
        )"""


def _bpe_ctes(k: int = None, top_v: int = None) -> str:
    """CTE block (without WITH) re-running the BPE trainer of
    functions/bpe.py in DuckDB: top-``top_v`` word-frequency vocab,
    then ``k`` unrolled merge rounds — pair counts as integer
    freq-weighted sums over each word's current symbol list, the best
    pair by (count DESC, lhs ASC, rhs ASC), merges applied by
    replace() over chr(1)-padded symbol strings (identical
    non-overlapping left-to-right semantics in both engines). Ends at
    ``bws{k}(w, c, syms)`` and ``best1..best{k}``."""
    k = k if k is not None else _BPE_K
    top_v = top_v if top_v is not None else _BPE_TOPV
    parts = [
        f"""
        bwords AS MATERIALIZED (
          SELECT w, c FROM (
            SELECT w, count(*) AS c
            FROM (SELECT unnest({_TOKENS_SQL}) AS w FROM documents)
            GROUP BY 1
          ) ORDER BY c DESC, w ASC LIMIT {top_v}
        ),
        bws0 AS MATERIALIZED (
          SELECT w, c,
                 chr(1) || array_to_string(
                   list_transform(generate_series(1, length(w)),
                                  i -> substr(w, i, 1)), chr(1))
                 || chr(1) AS syms
          FROM bwords
        )"""
    ]
    for r in range(1, k + 1):
        p = r - 1
        parts.append(
            f"""
        prs{r} AS (
          SELECT a, b, sum(c) AS pc FROM (
            SELECT c, s[i] AS a, s[i + 1] AS b FROM (
              SELECT c, s, unnest(generate_series(1, len(s) - 1)) AS i
              FROM (
                SELECT c, list_filter(string_split(syms, chr(1)),
                                      x -> x <> '') AS s
                FROM bws{p}
              )
            )
          ) GROUP BY 1, 2
        ),
        best{r} AS (
          SELECT a, b, pc FROM prs{r}
          ORDER BY pc DESC, a ASC, b ASC LIMIT 1
        ),
        bws{r} AS MATERIALIZED (
          SELECT w.w, w.c,
                 CASE WHEN b.a IS NULL THEN w.syms
                      ELSE replace(replace(w.syms,
                             chr(1) || b.a || chr(1) || b.b || chr(1),
                             chr(1) || b.a || b.b || chr(1)),
                             chr(1) || b.a || chr(1) || b.b || chr(1),
                             chr(1) || b.a || b.b || chr(1)) END AS syms
          FROM bws{p} w LEFT JOIN best{r} b ON TRUE
        )"""
        )
    return ",".join(parts)


def _bpe_applied_prefix(apdocs_body: str | None = None) -> str:
    """WITH-clause prefix shared by the applied-BPE oracles: the
    unrolled trainer CTEs (_bpe_ctes → best1..best{k}, on the
    UNPLANTED corpus), an ``apdocs`` document source (default: the
    planted-OOV append; pass ``apdocs_body`` for another corpus —
    extra columns like true_lang ride along for the final join), and
    the merge list replayed over EVERY token as k rounds of the
    identical two-pass padded replace (LEFT JOIN best{r} ON TRUE —
    the bws-round shape, over the token table instead of the vocab).
    Ends at ``aseg{_BPE_K}(doc_id, w, seg)``."""
    k = _BPE_K
    plant_arr = "['" + "', '".join(_BPE_PLANT_WORDS) + "']"
    np = len(_BPE_PLANT_WORDS)
    rounds = []
    for r in range(1, k + 1):
        p = r - 1
        rounds.append(
            f"""
        aseg{r} AS MATERIALIZED (
          SELECT s.doc_id, s.w,
                 CASE WHEN b.a IS NULL THEN s.seg
                      ELSE replace(replace(s.seg,
                             chr(1) || b.a || chr(1) || b.b || chr(1),
                             chr(1) || b.a || b.b || chr(1)),
                             chr(1) || b.a || chr(1) || b.b || chr(1),
                             chr(1) || b.a || b.b || chr(1)) END AS seg
          FROM aseg{p} s LEFT JOIN best{r} b ON TRUE
        )"""
        )
    if apdocs_body is None:
        apdocs_body = f"""SELECT doc_id,
                 text || ' ' ||
                 ({plant_arr})[CAST(doc_id % {np} AS INTEGER) + 1] AS text
          FROM documents"""
    return f"""
        WITH {_bpe_ctes()},
        apdocs AS (
          {apdocs_body}
        ),
        aseg0 AS MATERIALIZED (
          SELECT doc_id, w,
                 regexp_replace(w, '(.)', chr(1) || '\\1', 'g')
                   || chr(1) AS seg
          FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM apdocs)
        ),
        {",".join(rounds)}"""


def _bpe_applied_oracle() -> str:
    """Twin of bpe_token_stats_applied: the shared applied-BPE prefix
    (:func:`_bpe_applied_prefix`), rolled up per doc. Integer counts
    only — bit-exact by construction."""
    return f"""{_bpe_applied_prefix()}
        SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
               CAST(sum(greatest(
                 length(seg) - length(replace(seg, chr(1), '')) - 1, 0))
                 AS BIGINT) AS n_subwords,
               CAST(sum(length(w)) AS BIGINT) AS n_chars
        FROM aseg{_BPE_K}
        GROUP BY 1
    """


def _bpe_packing_oracle() -> str:
    """Twin of sequence_packing_bpe: the shared applied-BPE prefix
    rolled up to per-doc subword counts, then EXACTLY the
    sequence_packing window — shard = doc_id % 32, bin =
    floor(prefix-sum-before / 512) — and the per-bin fill rollup.
    Integer-exact end to end."""
    return f"""{_bpe_applied_prefix()},
        pstats AS (
          SELECT doc_id,
                 CAST(sum(greatest(
                   length(seg) - length(replace(seg, chr(1), '')) - 1, 0))
                   AS BIGINT) AS n_subwords
          FROM aseg{_BPE_K}
          GROUP BY 1
        ),
        packed AS (
          SELECT CAST(doc_id % 32 AS INTEGER) AS shard, n_subwords,
                 CAST(floor(coalesce(sum(n_subwords) OVER (
                     PARTITION BY doc_id % 32 ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / 512) AS INTEGER) AS bin
          FROM pstats
        )
        SELECT shard, bin, count(*) AS n_docs,
               CAST(sum(n_subwords) AS BIGINT) AS total_tokens
        FROM packed GROUP BY 1, 2
    """


def _dsir_ctes(nb: int = 256, salt: str = "qs") -> str:
    """CTE block (without WITH) restating the DSIR table build and
    scoring of functions/dsir.py: planted corpus → hashed feature
    buckets → per-bucket add-one-smoothed p_target/p_raw ratios
    (integer counts, the same double divisions) → per-doc mean-ratio
    score as the document-order fold with 6dp floor rounding. Ends at
    ``marg(doc_id, y, n_feats, score)``."""
    hex8 = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('{salt}:' || x), "
        f"{i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
        d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' {_SCORER_PLANT}' ELSE text END AS text,
                 CAST(doc_id % 3 = 0 AS INTEGER) AS y
          FROM documents
        ),
        t AS (SELECT doc_id, y, {_TOKENS_SQL} AS toks FROM d),
        f0 AS (
          SELECT doc_id, y,
                 toks || (CASE WHEN len(toks) >= 2
                          THEN list_transform(
                                 generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])
                          ELSE CAST([] AS VARCHAR[]) END) AS f
          FROM t
        ),
        fb AS MATERIALIZED (
          SELECT doc_id, y, f,
                 list_transform(f, x ->
                   CAST(({hex8}) % {nb} AS INTEGER)) AS bidx
          FROM f0
        ),
        ddims AS MATERIALIZED (
          SELECT unnest(generate_series(0, {nb - 1})) AS b
        ),
        cr0 AS (
          SELECT b, count(*) AS c
          FROM (SELECT unnest(bidx) AS b FROM fb) GROUP BY 1
        ),
        ct0 AS (
          SELECT b, count(*) AS c
          FROM (SELECT unnest(bidx) AS b FROM fb WHERE y = 1) GROUP BY 1
        ),
        tots AS (
          SELECT (SELECT coalesce(sum(c), 0) FROM cr0) AS tr,
                 (SELECT coalesce(sum(c), 0) FROM ct0) AS tt
        ),
        rl0 AS (
          SELECT ddims.b,
                 (CAST(coalesce(ct0.c, 0) + 1 AS DOUBLE)
                  / CAST(tots.tt + {nb} AS DOUBLE))
                 / (CAST(coalesce(cr0.c, 0) + 1 AS DOUBLE)
                    / CAST(tots.tr + {nb} AS DOUBLE)) AS r
          FROM ddims CROSS JOIN tots
          LEFT JOIN ct0 ON ct0.b = ddims.b
          LEFT JOIN cr0 ON cr0.b = ddims.b
        ),
        rl AS MATERIALIZED (SELECT list(r ORDER BY b) AS rl FROM rl0),
        marg AS MATERIALIZED (
          SELECT fb.doc_id, fb.y, CAST(len(f) AS INTEGER) AS n_feats,
                 floor((CASE WHEN len(f) > 0
                        THEN list_reduce(
                               list_prepend(CAST(0.0 AS DOUBLE),
                                 list_transform(f, x ->
                                   rl[CAST(({hex8}) % {nb}
                                      AS INTEGER) + 1])),
                               (a, b) -> a + b) / len(f) + 0.0
                        ELSE 0.0 END) * 1000000.0 + 0.5)
                   / 1000000.0 AS score
          FROM fb, rl
        )"""


def _repetition_ctes(src: str = "documents") -> str:
    """CTE block (without WITH) of the Gopher repetition signals —
    relational restatement of functions/text.py:repetition_stats
    (same values; the Spark side is the map-only fold form). Reads
    (doc_id, text) from ``src``. Ends at ``repstats(doc_id, n_tokens,
    top_word_frac, dup_2gram_frac, dup_3gram_frac, top_2gram_frac)``."""
    return f"""rtoks AS (SELECT doc_id, {_TOKENS_SQL} AS t
                          FROM {src}),
            rw AS (
              SELECT doc_id, max(c) AS topw FROM (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(t) AS tok FROM rtoks)
                GROUP BY 1, 2
              ) GROUP BY 1
            ),
            rg2 AS (
              SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
              FROM rtoks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 2
            ),
            rg3 AS (
              SELECT doc_id,
                     t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
              FROM rtoks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
              WHERE len(t) >= 3
            ),
            ra2 AS (
              SELECT doc_id, sum(c) AS tot, count(*) AS dst,
                     max(c) AS top
              FROM (SELECT doc_id, g, count(*) AS c FROM rg2 GROUP BY 1, 2)
              GROUP BY 1
            ),
            ra3 AS (
              SELECT doc_id, sum(c) AS tot, count(*) AS dst
              FROM (SELECT doc_id, g, count(*) AS c FROM rg3 GROUP BY 1, 2)
              GROUP BY 1
            ),
            repstats AS (
              SELECT t.doc_id,
                     CAST(len(t.t) AS BIGINT) AS n_tokens,
                     CASE WHEN len(t.t) > 0
                          THEN round(CAST(w.topw AS DOUBLE) / len(t.t), 6)
                          ELSE 0.0 END AS top_word_frac,
                     CASE WHEN coalesce(a2.tot, 0) > 0
                          THEN round(CAST(a2.tot - a2.dst AS DOUBLE)
                                     / a2.tot, 6)
                          ELSE 0.0 END AS dup_2gram_frac,
                     CASE WHEN coalesce(a3.tot, 0) > 0
                          THEN round(CAST(a3.tot - a3.dst AS DOUBLE)
                                     / a3.tot, 6)
                          ELSE 0.0 END AS dup_3gram_frac,
                     CASE WHEN coalesce(a2.tot, 0) > 0
                          THEN round(CAST(a2.top AS DOUBLE) / a2.tot, 6)
                          ELSE 0.0 END AS top_2gram_frac
              FROM rtoks t
              LEFT JOIN rw w USING (doc_id)
              LEFT JOIN ra2 a2 USING (doc_id)
              LEFT JOIN ra3 a3 USING (doc_id)
            )"""


def _charlm_ctes() -> str:
    """CTE block (without WITH) of the char-trigram LM — train + score
    (see _charlm_oracle's docstring for the parity argument). Ends at
    ``lmfinal(doc_id, n_trigrams, mean_p, min_p)`` over ALL docs."""
    code = (
        "CASE WHEN {a} BETWEEN 97 AND 122 THEN {a} - 96 "
        "WHEN {a} = 32 THEN 27 ELSE 0 END"
    )
    c1 = code.format(a="ascii(substr(s, i, 1))")
    c2 = code.format(a="ascii(substr(s, i + 1, 1))")
    c3 = code.format(a="ascii(substr(s, i + 2, 1))")
    return f"""lmnorm AS (SELECT doc_id, lower(text) AS s
                           FROM documents),
        lmpos AS MATERIALIZED (
          SELECT doc_id, i,
                 ({c1}) * 784 + ({c2}) * 28 + ({c3}) + 1 AS idx
          FROM lmnorm, UNNEST(generate_series(1, len(s) - 2)) AS u(i)
          WHERE len(s) >= 3
        ),
        lmtri AS MATERIALIZED (
          SELECT idx, count(*) AS cnt FROM lmpos GROUP BY 1
        ),
        lmctx AS (
          SELECT (idx - 1) // 28 AS ctx, sum(cnt) AS c
          FROM lmtri GROUP BY 1
        ),
        lmscored AS (
          SELECT p.doc_id, p.i,
                 CAST(coalesce(t.cnt, 0) + 1 AS DOUBLE)
                 / CAST(coalesce(c.c, 0) + 28 AS DOUBLE) AS prob
          FROM lmpos p
          LEFT JOIN lmtri t USING (idx)
          LEFT JOIN lmctx c ON c.ctx = (p.idx - 1) // 28
        ),
        lmagg AS (
          SELECT doc_id, count(*) AS n,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(prob ORDER BY i)), (a, b) -> a + b) AS tot,
                 min(prob) AS mn
          FROM lmscored GROUP BY doc_id
        ),
        lmfinal AS (
          SELECT d.doc_id,
                 CAST(coalesce(a.n, 0) AS BIGINT) AS n_trigrams,
                 CASE WHEN coalesce(a.n, 0) > 0
                      THEN round(a.tot / a.n, 6) ELSE 0.0 END AS mean_p,
                 CASE WHEN coalesce(a.n, 0) > 0
                      THEN round(a.mn, 6) ELSE 0.0 END AS min_p
          FROM documents d LEFT JOIN lmagg a USING (doc_id)
        )"""


def _curation_oracle(
    margin_floor: bool = False, full: bool = False, web: bool = False
) -> str:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        LANG_PROFILES,
    )

    score_cols = []
    for lang, words in LANG_PROFILES.items():
        lst = "['" + "', '".join(words) + "']"
        score_cols.append(
            f"CASE WHEN len(toks) > 0 THEN "
            f"len(list_filter(toks, x -> list_contains({lst}, x))) / len(toks) "
            f"ELSE 0.0 END AS s_{lang}"
        )
    longs = "\n          UNION ALL\n".join(
        f"          SELECT doc_id, '{lang}' AS cand, s_{lang} AS score FROM s"
        for lang in sorted(LANG_PROFILES)
    )
    quality = f"""(least(len(toks) / 100.0, 1.0)
                 + least((CASE WHEN len(toks) > 0
                          THEN len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t))) / len(toks)
                          ELSE 0.0 END) * 5.0, 1.0)
                 + (1.0 - (CASE WHEN length(text) > 0
                           THEN length(stripped) / length(text)
                           ELSE 0.0 END))) / 3.0"""
    margin_ctes = f"{_quality_margin_ctes()}," if margin_floor else ""
    margin_join = "JOIN marg m USING (doc_id)" if margin_floor else ""
    margin_pred = "AND m.margin >= 0.0" if margin_floor else ""
    margin_col = ", m.margin" if margin_floor else ""
    margin_out = ", k.margin" if margin_floor else ""
    full_ctes = f"{_repetition_ctes()},\n        {_charlm_ctes()}," if full else ""
    full_join = (
        "JOIN repstats r USING (doc_id) JOIN lmfinal lm USING (doc_id)"
        if full
        else ""
    )
    full_pred = (
        "AND r.top_word_frac <= 0.12 AND r.dup_2gram_frac <= 0.05 "
        "AND r.dup_3gram_frac <= 0.02 AND lm.mean_p >= 0.62"
        if full
        else ""
    )
    full_col = ", r.top_word_frac, lm.mean_p" if full else ""
    full_out = ", k.top_word_frac, k.mean_p" if full else ""
    web_ctes = (
        f"""{_url_domain_ctes()},
        bl AS (
          SELECT DISTINCT reg_domain FROM doms WHERE doc_id % 10 = 0
        ),
        webkeep AS (
          SELECT d.doc_id, d.reg_domain
          FROM doms d ANTI JOIN bl USING (reg_domain)
        ),"""
        if web
        else ""
    )
    web_join = "JOIN webkeep wk USING (doc_id)" if web else ""
    web_col = ", wk.reg_domain" if web else ""
    if web:
        # dedup winners then the per-domain cap, exactly the Spark
        # cap_per_domain order (md5 hash pick, id tie-break)
        final = f"""
        sel AS (
          SELECT k.doc_id, k.reg_domain, c.digest, k.n_tokens,
                 k.quality{full_out}
          FROM kept k JOIN canon c ON k.doc_id = c.doc_id
        ),
        ranked AS (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY reg_domain
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                 AS INTEGER) AS rk
          FROM sel
        )
        SELECT doc_id, reg_domain, digest, n_tokens, quality,
               mean_p, rk
        FROM ranked WHERE rk <= 5"""
    else:
        final = f"""
        SELECT k.doc_id, c.digest, k.n_tokens, k.quality{margin_out}{full_out}
        FROM kept k JOIN canon c ON k.doc_id = c.doc_id"""
    return f"""
        WITH {web_ctes} {full_ctes} t AS (
          SELECT doc_id, text, {_TOKENS_SQL} AS toks,
                 regexp_replace(lower(text), '[a-z0-9 ]', '', 'g') AS stripped
          FROM documents
        ),
        {margin_ctes}
        s AS (
          SELECT doc_id, text,
                 CAST(len(toks) AS INTEGER) AS n_tokens,
                 {quality} AS quality,
                 {', '.join(score_cols)}
          FROM t
        ),
        long AS (
{longs}
        ),
        pred AS (
          SELECT doc_id, cand AS pred_lang
          FROM long
          QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, cand ASC) = 1
        ),
        kept AS (
          SELECT s.doc_id, s.text, s.n_tokens, s.quality{margin_col}{full_col}{web_col}
          FROM s JOIN pred p USING (doc_id) {margin_join} {full_join} {web_join}
          WHERE p.pred_lang = 'en' AND s.quality >= 0.5 AND s.n_tokens >= 5
            {margin_pred} {full_pred}
        ),
        canon AS (
          SELECT md5(text) AS digest, min(doc_id) AS doc_id
          FROM kept GROUP BY 1
        ){"," if web else ""}
        {final}
    """


def _langid_oracle() -> str:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        LANG_PROFILES,
    )

    score_cols = []
    for lang, words in LANG_PROFILES.items():
        lst = "['" + "', '".join(words) + "']"
        score_cols.append(
            f"CASE WHEN len(toks) > 0 THEN "
            f"len(list_filter(toks, x -> list_contains({lst}, x))) / len(toks) "
            f"ELSE 0.0 END AS s_{lang}"
        )
    longs = "\n          UNION ALL\n".join(
        f"          SELECT doc_id, lang, '{lang}' AS cand, s_{lang} AS score FROM s"
        for lang in sorted(LANG_PROFILES)
    )
    return f"""
        WITH t AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
        s AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM t),
        long AS (
{longs}
        ),
        pred AS (
          SELECT doc_id, lang, cand AS pred_lang
          FROM long
          QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, cand ASC) = 1
        )
        SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
    """


def _lang_ngram_oracle() -> str:
    """Twin of lang_id_ngram: the SAME planted corpus (language and
    snippet indexed by doc_id % 20 from the sorted snippet table),
    per-language scores by the SAME replace()-length-diff occurrence
    arithmetic over the lowercased text, and both argmaxes as
    integer-count row_number with the DESC-count, ASC-code order that
    mirrors array_min((−score, lang)) / the first-strictly-greater
    scan. Integer values only — bit-exact by construction."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        CHAR_PROFILES,
        LANG_PROFILES,
    )

    langs = sorted(CHAR_PROFILES)
    nl = len(langs)
    lang_arr = "['" + "', '".join(langs) + "']"
    snip_arr = "['" + "', '".join(_LANG_SNIPPETS[lg] for lg in langs) + "']"

    def score_sql(lang: str) -> str:
        return " + ".join(
            f"(length(s) - length(replace(s, '{t}', '')))"
            for t in sorted(set(CHAR_PROFILES[lang]))
        )

    ng_rows = "\n          UNION ALL\n".join(
        f"          SELECT doc_id, '{lang}' AS cand,"
        f" {score_sql(lang)} AS h FROM base"
        for lang in langs
    )
    sw_rows = "\n          UNION ALL\n".join(
        "          SELECT doc_id, '{lang}' AS cand,"
        " len(list_filter(toks, x -> list_contains({lst}, x))) AS h"
        " FROM base".format(
            lang=lang,
            lst="['" + "', '".join(LANG_PROFILES[lang]) + "']",
        )
        for lang in sorted(LANG_PROFILES)
    )
    return f"""
        WITH d AS (
          SELECT doc_id,
                 ({lang_arr})[CAST(doc_id % {nl} AS INTEGER) + 1] AS true_lang,
                 ({snip_arr})[CAST(doc_id % {nl} AS INTEGER) + 1] AS text
          FROM documents
        ),
        base AS MATERIALIZED (
          SELECT doc_id, true_lang, lower(coalesce(text, '')) AS s,
                 {_TOKENS_SQL} AS toks
          FROM d
        ),
        ng AS (
{ng_rows}
        ),
        ngp AS (
          SELECT doc_id, cand AS pred_ngram FROM ng
          QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY h DESC, cand ASC) = 1
        ),
        sw AS (
{sw_rows}
        ),
        swp AS (
          SELECT doc_id, cand AS pred_stopword FROM sw
          QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY h DESC, cand ASC) = 1
        )
        SELECT b.doc_id, b.true_lang, ngp.pred_ngram, swp.pred_stopword
        FROM base b
        JOIN ngp USING (doc_id)
        JOIN swp USING (doc_id)
    """


def _lang_script_oracle() -> str:
    """Twin of lang_id_script: the SAME 32-language planted corpus,
    script-block code-point counts by the SAME
    length − length(regexp_replace(s, class, '', 'g')) arithmetic
    (RE2 and Java regex agree on BMP \\x{....} classes — probed on
    combining-mark scripts before adoption), the script argmax and all
    three profile argmaxes as integer-count row_number with the
    DESC-count, ASC-code order that mirrors array_min((−count, key)),
    and the SAME routing CASE (all via :func:`_script_pred_ctes`).
    Integer values only — bit-exact by construction."""
    langs, snippets = _multiscript_corpus()
    nl = len(langs)
    lang_arr = "['" + "', '".join(langs) + "']"
    snip_arr = "['" + "', '".join(snippets) + "']"
    return f"""
        WITH d AS (
          SELECT doc_id,
                 ({lang_arr})[CAST(doc_id % {nl} AS INTEGER) + 1] AS true_lang,
                 ({snip_arr})[CAST(doc_id % {nl} AS INTEGER) + 1] AS text
          FROM documents
        ),
        base AS MATERIALIZED (
          SELECT doc_id, true_lang, lower(coalesce(text, '')) AS s
          FROM d
        ),
        {_script_pred_ctes()}
        SELECT b.doc_id, b.true_lang, sp.pred,
               lat.pred AS pred_latin_only
        FROM base b
        JOIN spred sp USING (doc_id)
        JOIN lat USING (doc_id)
    """


def _script_pred_ctes() -> str:
    """CTE chain (without WITH) of the 32-language script-routed
    classifier: reads ``base(doc_id, s)`` (s pre-lowercased), ends at
    ``spred(doc_id, pred)`` with the family argmaxes ``lat``/``cyr``/
    ``arb`` still addressable (lang_id_script outputs lat.pred as its
    Latin-only column). Script-block code-point counts by the SAME
    length − length(regexp_replace(s, class, '', 'g')) arithmetic as
    functions/langid.py, argmaxes as DESC-count/ASC-code row_number
    mirroring array_min((−count, key)), and the same routing CASE —
    integer values only, bit-exact by construction."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        ARABIC_PROFILES,
        CHAR_PROFILES,
        CYRILLIC_PROFILES,
        SCRIPT_CLASSES,
    )

    counts = ",\n                 ".join(
        f"length(s) - length(regexp_replace(s, '{cls}', '', 'g'))"
        f" AS c_{scr}"
        for scr, cls in sorted(SCRIPT_CLASSES.items())
    )
    nonlatin = sorted(k for k in SCRIPT_CLASSES if k != "latin")
    scl_rows = "\n          UNION ALL\n".join(
        f"          SELECT doc_id, '{scr}' AS scr, c_{scr} AS h FROM sc"
        for scr in nonlatin
    )

    def score_sql(tris: list[str]) -> str:
        return " + ".join(
            f"(length(s) - length(replace(s, '{t}', '')))"
            for t in sorted(set(tris))
        )

    def family_ctes(name: str, profiles: dict[str, list[str]]) -> str:
        rows = "\n          UNION ALL\n".join(
            f"          SELECT doc_id, '{lang}' AS cand,"
            f" {score_sql(profiles[lang])} AS h FROM base"
            for lang in sorted(profiles)
        )
        return (
            f"{name}l AS (\n{rows}\n        ),\n"
            f"        {name} AS (\n"
            f"          SELECT doc_id, cand AS pred FROM {name}l\n"
            f"          QUALIFY row_number() OVER (\n"
            f"            PARTITION BY doc_id ORDER BY h DESC, cand ASC"
            f") = 1\n        )"
        )

    return f"""sc AS (
          SELECT doc_id,
                 {counts}
          FROM base
        ),
        scl AS (
{scl_rows}
        ),
        scp AS (
          SELECT doc_id, scr, h FROM scl
          QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY h DESC, scr ASC) = 1
        ),
        {family_ctes('lat', CHAR_PROFILES)},
        {family_ctes('cyr', CYRILLIC_PROFILES)},
        {family_ctes('arb', ARABIC_PROFILES)},
        spred AS (
          SELECT sc.doc_id,
                 CASE WHEN scp.h > sc.c_latin THEN
                   CASE WHEN scp.scr = 'kana' THEN 'ja'
                        WHEN scp.scr = 'han' THEN
                          CASE WHEN sc.c_kana > 0 THEN 'ja' ELSE 'zh' END
                        WHEN scp.scr = 'hangul' THEN 'ko'
                        WHEN scp.scr = 'devanagari' THEN 'hi'
                        WHEN scp.scr = 'thai' THEN 'th'
                        WHEN scp.scr = 'greek' THEN 'el'
                        WHEN scp.scr = 'hebrew' THEN 'he'
                        WHEN scp.scr = 'cyrillic' THEN cyr.pred
                        ELSE arb.pred END
                 ELSE lat.pred END AS pred
          FROM sc
          JOIN scp USING (doc_id)
          JOIN lat USING (doc_id)
          JOIN cyr USING (doc_id)
          JOIN arb USING (doc_id)
        )"""


def _scriptq_sql_parts() -> dict[str, str]:
    """SQL twins of the functions/scriptq.py expressions over a
    pre-lowercased column ``s`` — identical regex-count and division
    arithmetic (the char-trigram slice and the division chains probed
    bit-equal across engines on CJK/Thai/Devanagari fixtures)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scriptq import (
        CLEAN_CLASS,
        CONTINUA_CLASS,
        LETTER_CLASS,
    )

    cont = (
        f"(length(s) - length(regexp_replace(s, '{CONTINUA_CLASS}',"
        f" '', 'g')))"
    )
    letters = (
        f"(length(s) - length(regexp_replace(s, '{LETTER_CLASS}',"
        f" '', 'g')))"
    )
    ws = (
        "len(list_filter(string_split_regex(lower(trim("
        f"regexp_replace(s, '{CONTINUA_CLASS}', ' ', 'g'))), '\\s+'),"
        " x -> x <> ''))"
    )
    n_sc = f"CAST({cont} + {ws} AS INTEGER)"
    letter_ratio = (
        f"CASE WHEN length(s) > 0 THEN {letters} / length(s)"
        f" ELSE 0.0 END"
    )
    noise_ratio = (
        f"CASE WHEN length(s) > 0 THEN"
        f" length(regexp_replace(s, '{CLEAN_CLASS}', '', 'g'))"
        f" / length(s) ELSE 0.0 END"
    )
    q_sc = (
        f"(least({n_sc} / 100.0, 1.0)"
        f" + least(({letter_ratio}) * 1.25, 1.0)"
        f" + (1.0 - ({noise_ratio}))) / 3.0"
    )
    char3 = (
        "CASE WHEN length(s) >= 3 THEN"
        " 1.0 - CAST(len(list_distinct(list_transform("
        "range(1, length(s) - 1),"
        " i -> substr(s, CAST(i AS INTEGER), 3)))) AS DOUBLE)"
        " / (length(s) - 2) ELSE 0.0 END"
    )
    return {
        "cont": cont,
        "letters": letters,
        "n_sc": n_sc,
        "q_sc": q_sc,
        "char3": char3,
    }


def _script_quality_oracle() -> str:
    """Twin of script_quality_stats: the 32-language planted corpus,
    the whitespace stack exactly as _curation_oracle states it (token
    count / stopword quality / ASCII punct ratio) next to the
    script-aware stack (:func:`_scriptq_sql_parts`), rolled up per
    true_lang with integer sums and order-free double mins."""
    langs, snippets = _multiscript_corpus()
    nl = len(langs)
    lang_arr = "['" + "', '".join(langs) + "']"
    snip_arr = "['" + "', '".join(snippets) + "']"
    p = _scriptq_sql_parts()
    q_ws = f"""(least(len(toks) / 100.0, 1.0)
                 + least((CASE WHEN len(toks) > 0
                          THEN len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t))) / len(toks)
                          ELSE 0.0 END) * 5.0, 1.0)
                 + (1.0 - (CASE WHEN length(text) > 0
                           THEN length(stripped) / length(text)
                           ELSE 0.0 END))) / 3.0"""
    return f"""
        WITH d AS (
          SELECT doc_id,
                 ({lang_arr})[CAST(doc_id % {nl} AS INTEGER) + 1] AS true_lang,
                 ({snip_arr})[CAST(doc_id % {nl} AS INTEGER) + 1] AS text
          FROM documents
        ),
        t AS (
          SELECT doc_id, true_lang, text,
                 lower(coalesce(text, '')) AS s,
                 {_TOKENS_SQL} AS toks,
                 regexp_replace(lower(text), '[a-z0-9 ]', '', 'g') AS stripped
          FROM d
        ),
        m AS (
          SELECT true_lang,
                 CAST(len(toks) AS INTEGER) AS n_ws,
                 {q_ws} AS q_ws,
                 {p['n_sc']} AS n_sc,
                 {p['q_sc']} AS q_sc
          FROM t
        )
        SELECT true_lang, count(*) AS n_docs,
               CAST(sum(n_ws) AS BIGINT) AS sum_tokens_ws,
               CAST(sum(n_sc) AS BIGINT) AS sum_tokens_script,
               CAST(sum(CASE WHEN n_ws >= 5 AND q_ws >= 0.5
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_ws,
               CAST(sum(CASE WHEN n_sc >= 5 AND q_sc >= 0.5
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_script,
               min(q_ws) AS min_q_ws,
               min(q_sc) AS min_q_script
        FROM m GROUP BY 1
    """


def _curation_multiscript_oracle() -> str:
    """Twin of curation_multiscript: the planted mixed corpus (3/4
    digit-suffixed 32-language snippets, 1/4 original text), the
    script-routed classifier chain (:func:`_script_pred_ctes`), the
    script-aware floors (:func:`_scriptq_sql_parts`), repetition
    ROUTED by the continua predicate — char-trigram duplicate fraction
    for continua docs, the Gopher word shingles
    (:func:`_repetition_ctes` over the cheap survivors) with
    multilingual thresholds otherwise — then the exact-dedup
    keep-min join."""
    langs, snippets = _multiscript_corpus()
    snip_arr = "['" + "', '".join(snippets) + "']"
    p = _scriptq_sql_parts()
    targets = "', '".join(_MS_TARGETS)
    return f"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 3 THEN text
                      ELSE ({snip_arr})[CAST(floor((doc_id % 128) / 4.0)
                                        AS INTEGER) + 1]
                           || ' ' || CAST(doc_id % 7 AS VARCHAR) END AS text
          FROM documents
        ),
        base AS MATERIALIZED (
          SELECT doc_id, text, lower(coalesce(text, '')) AS s FROM d
        ),
        {_script_pred_ctes()},
        met AS (
          SELECT doc_id, text, s,
                 {p['n_sc']} AS n_tokens,
                 {p['q_sc']} AS quality,
                 CASE WHEN {p['cont']} * 2 > {p['letters']}
                      THEN 1 ELSE 0 END AS cont
          FROM base
        ),
        cheap AS MATERIALIZED (
          SELECT m.doc_id, m.text, m.s, m.n_tokens, m.quality, m.cont,
                 sp.pred
          FROM met m JOIN spred sp USING (doc_id)
          WHERE sp.pred IN ('{targets}')
            AND m.n_tokens >= 5 AND m.quality >= 0.5
        ),
        {_repetition_ctes(src='cheap')},
        c3 AS (
          SELECT doc_id, {p['char3']} AS dupc FROM cheap
        ),
        surv AS (
          SELECT ch.doc_id, ch.text, ch.pred, ch.n_tokens, ch.quality,
                 ch.cont
          FROM cheap ch
          JOIN repstats r USING (doc_id)
          JOIN c3 USING (doc_id)
          WHERE CASE WHEN ch.cont = 1 THEN c3.dupc <= 0.20
                     ELSE r.top_word_frac <= 0.15
                          AND r.dup_2gram_frac <= 0.10
                          AND r.dup_3gram_frac <= 0.05 END
        ),
        canon AS (
          SELECT md5(text) AS digest, min(doc_id) AS doc_id
          FROM surv GROUP BY 1
        )
        SELECT s2.doc_id, c.digest, s2.pred, s2.n_tokens, s2.quality,
               s2.cont
        FROM surv s2 JOIN canon c ON s2.doc_id = c.doc_id
    """


def _quality_calibrated_oracle() -> str:
    """Twin of quality_calibrated: planted mix, classifier chain,
    script quality twin, the same exact-rank p40 window and the
    threshold rollup."""
    langs, snippets = _multiscript_corpus()
    lang_arr = "['" + "', '".join(langs) + "']"
    snip_arr = "['" + "', '".join(snippets) + "']"
    p = _scriptq_sql_parts()
    return f"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 3 THEN 'corpus'
                      ELSE ({lang_arr})[CAST(floor((doc_id % 128) / 4.0)
                                        AS INTEGER) + 1] END AS true_lang,
                 CASE WHEN doc_id % 4 = 3 THEN text
                      ELSE ({snip_arr})[CAST(floor((doc_id % 128) / 4.0)
                                        AS INTEGER) + 1]
                           || ' ' || CAST(doc_id % 7 AS VARCHAR) END AS text
          FROM documents
        ),
        base AS MATERIALIZED (
          SELECT doc_id, text, lower(coalesce(text, '')) AS s FROM d
        ),
        {_script_pred_ctes()},
        per AS (
          SELECT b.doc_id, sp.pred, {p['q_sc']} AS quality
          FROM base b JOIN spred sp USING (doc_id)
        ),
        ranked AS (
          SELECT pred, doc_id, quality,
                 row_number() OVER (
                   PARTITION BY pred ORDER BY quality, doc_id) AS rn,
                 count(*) OVER (PARTITION BY pred) AS n
          FROM per
        ),
        thr AS (
          SELECT pred, quality,
                 max(CASE WHEN rn = greatest(1,
                   CAST(ceil(0.4 * n) AS BIGINT)) THEN quality END)
                   OVER (PARTITION BY pred) AS threshold
          FROM ranked
        )
        SELECT pred, count(*) AS n_docs,
               round(threshold, 9) AS q40_threshold,
               CAST(sum(CASE WHEN quality >= threshold
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               round(CAST(sum(CASE WHEN quality >= threshold
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS kept_rate
        FROM thr
        GROUP BY 1, threshold
    """


def _language_mix_oracle() -> str:
    """Twin of language_mix_counts: the planted mix, the script-routed
    classifier chain (:func:`_script_pred_ctes`), the script token
    twin, the same rate CASE and md5 coin, one rollup."""
    langs, snippets = _multiscript_corpus()
    lang_arr = "['" + "', '".join(langs) + "']"
    snip_arr = "['" + "', '".join(snippets) + "']"
    p = _scriptq_sql_parts()
    rate = f"{_LANG_MIX_DEFAULT!r}"
    for lang, r in sorted(_LANG_MIX_RATES.items()):
        rate = f"CASE WHEN sp.pred = '{lang}' THEN {r!r} ELSE {rate} END"
    hex8 = " + ".join(
        f"(strpos('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 3 THEN 'corpus'
                      ELSE ({lang_arr})[CAST(floor((doc_id % 128) / 4.0)
                                        AS INTEGER) + 1] END AS true_lang,
                 CASE WHEN doc_id % 4 = 3 THEN text
                      ELSE ({snip_arr})[CAST(floor((doc_id % 128) / 4.0)
                                        AS INTEGER) + 1]
                           || ' ' || CAST(doc_id % 7 AS VARCHAR) END AS text
          FROM documents
        ),
        base AS MATERIALIZED (
          SELECT doc_id, text, lower(coalesce(text, '')) AS s FROM d
        ),
        {_script_pred_ctes()},
        per AS (
          SELECT sp.pred,
                 {p['n_sc']} AS n_tokens,
                 CASE WHEN
                   CAST(({hex8}) AS DOUBLE) / 4294967296.0 < ({rate})
                 THEN 1 ELSE 0 END AS keep
          FROM base b
          JOIN spred sp USING (doc_id)
          JOIN (SELECT doc_id,
                       md5('lmix' || CAST(doc_id AS VARCHAR)) AS hx
                FROM d) h USING (doc_id)
        )
        SELECT pred, count(*) AS n_docs,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(keep * n_tokens) AS BIGINT) AS kept_tokens,
               round(CAST(sum(keep) AS DOUBLE) / count(*), 6)
                 AS achieved_rate
        FROM per GROUP BY 1
    """


def _matryoshka_oracle() -> str:
    """Twin of matryoshka_recall: the cosine_topk fold/round/tie-break
    machinery over the full vectors and each sliced prefix, top-10
    intersections against the full-dimension truth, one UNION ALL arm
    per tier."""
    fold_sq = "list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b)"
    dot = (
        "list_reduce(list_transform(generate_series(1, len(q_emb)), "
        "i -> q_emb[i] * c_emb[i]), (a, b) -> a + b)"
    )
    cos = (
        f"round({dot} / (sqrt({fold_sq.format(v='q_emb')}) * "
        f"sqrt({fold_sq.format(v='c_emb')})), 6)"
    )
    tiers = []
    recs = []
    for d in _MRL_DIMS:
        tiers.append(
            f"""p{d} AS (
          SELECT query_id, vec_id, {cos} AS cos_r FROM (
            SELECT q.query_id, c.vec_id,
                   q.qemb0[1:{d}] AS q_emb, c.emb0[1:{d}] AS c_emb
            FROM e c, q WHERE c.vec_id <> q.query_id)
        ),
        t{d} AS (
          SELECT query_id, vec_id FROM p{d}
          QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY cos_r DESC, vec_id ASC) <= 10
        ),
        m{d} AS (
          SELECT query_id, count(*) AS n_common
          FROM t64 f JOIN t{d} t USING (query_id, vec_id)
          GROUP BY 1
        )"""
        )
        recs.append(
            f"""SELECT nf.query_id, CAST({d} AS INTEGER) AS dim,
                 nf.n_full,
                 CAST(coalesce(m{d}.n_common, 0) AS BIGINT) AS n_common,
                 round(coalesce(m{d}.n_common, 0) / nf.n_full, 6)
                   AS recall
          FROM nf LEFT JOIN m{d} USING (query_id)"""
        )
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb0
          FROM embeddings
        ),
        q AS (
          SELECT vec_id AS query_id, emb0 AS qemb0 FROM e WHERE vec_id < 5
        ),
        p64 AS (
          SELECT query_id, vec_id, {cos} AS cos_r FROM (
            SELECT q.query_id, c.vec_id, q.qemb0 AS q_emb, c.emb0 AS c_emb
            FROM e c, q WHERE c.vec_id <> q.query_id)
        ),
        t64 AS (
          SELECT query_id, vec_id FROM p64
          QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY cos_r DESC, vec_id ASC) <= 10
        ),
        nf AS (SELECT query_id, count(*) AS n_full FROM t64 GROUP BY 1),
        {','.join(tiers)}
        {' UNION ALL '.join(recs)}
    """


def _benchmark_decontam_script_oracle() -> str:
    """Twin of benchmark_decontam_script: the planted mix corpus, the
    word-8-gram pipeline exactly as the benchmark_decontam oracle
    states it, the script-routed pipeline (char 12-grams where
    continua letters hold the majority — _scriptq_sql_parts routing —
    word 8-grams otherwise), and the per-language dual rollup."""
    langs, snippets = _multiscript_corpus()
    lang_arr = "['" + "', '".join(langs) + "']"
    snip_arr = "['" + "', '".join(snippets) + "']"
    p = _scriptq_sql_parts()
    return f"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 3 THEN 'corpus'
                      ELSE ({lang_arr})[CAST(floor((doc_id % 128) / 4.0)
                                        AS INTEGER) + 1] END AS true_lang,
                 CASE WHEN doc_id % 4 = 3 THEN text
                      ELSE ({snip_arr})[CAST(floor((doc_id % 128) / 4.0)
                                        AS INTEGER) + 1]
                           || ' ' || CAST(doc_id % 7 AS VARCHAR) END AS text
          FROM documents
        ),
        words AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM d
        ),
        wgrams AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - 7),
                        i -> array_to_string(w[i:i+7], ' '))) AS gram
          FROM words WHERE len(w) >= 8
        ),
        wbench AS (
          SELECT DISTINCT gram FROM wgrams WHERE doc_id % 4 = 1
        ),
        wout AS (
          SELECT c.doc_id,
                 CAST(count(b.gram) * 10 >= count(*) * 1 AS INTEGER)
                   AS cw
          FROM wgrams c LEFT JOIN wbench b USING (gram)
          WHERE c.doc_id % 4 <> 1
          GROUP BY 1
        ),
        rt AS MATERIALIZED (
          SELECT doc_id, true_lang, lower(coalesce(text, '')) AS s
          FROM d
        ),
        rts AS (
          SELECT doc_id,
                 ({p['cont']}) * 2 > ({p['letters']}) AS cont, s
          FROM rt
        ),
        sgrams AS (
          SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id, substr(s, CAST(i AS INTEGER), 12) AS gram
            FROM (SELECT doc_id, s, unnest(range(1, length(s) - 10)) AS i
                  FROM rts WHERE cont AND length(s) >= 12)
            UNION ALL
            SELECT g.doc_id, g.gram
            FROM wgrams g JOIN rts r ON r.doc_id = g.doc_id
            WHERE NOT r.cont
          )
        ),
        sbench AS (
          SELECT DISTINCT gram FROM sgrams WHERE doc_id % 4 = 1
        ),
        sout AS (
          SELECT c.doc_id,
                 CAST(count(b.gram) * 10 >= count(*) * 1 AS INTEGER)
                   AS cs
          FROM sgrams c LEFT JOIN sbench b USING (gram)
          WHERE c.doc_id % 4 <> 1
          GROUP BY 1
        )
        SELECT r.true_lang, count(*) AS n_docs,
               count(w.cw) AS n_eval_word,
               CAST(coalesce(sum(w.cw), 0) AS BIGINT) AS n_contam_word,
               count(s2.cs) AS n_eval_script,
               CAST(coalesce(sum(s2.cs), 0) AS BIGINT) AS n_contam_script
        FROM rt r
        LEFT JOIN wout w USING (doc_id)
        LEFT JOIN sout s2 USING (doc_id)
        WHERE r.doc_id % 4 <> 1
        GROUP BY 1
    """


def _script_pairs_oracle_parts(
    k: int = 8, bands: int = 4
) -> tuple[str, str]:
    """(CTE block without WITH, candidate-pair select) for the
    script-routed LSH pipeline — the _minhash_oracle_parts convention,
    so downstream oracles (survivorship closure) compose structurally.
    The block ends with ``rt`` (canonical docs + routing + labels)
    and ``bandt`` addressable."""
    langs, snippets = _multiscript_corpus()
    snip_arr = "['" + "', '".join(snippets) + "']"
    p = _scriptq_sql_parts()
    r = k // bands
    mh_cols = ",\n                 ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(k)
    )
    band_selects = "\n          UNION ALL\n          ".join(
        "SELECT doc_id, {b} AS band, md5({expr}) AS band_hash "
        "FROM sig WHERE mh_0 IS NOT NULL".format(
            b=b,
            expr=" || '|' || ".join(
                f"mh_{i}" for i in range(b * r, (b + 1) * r)
            ),
        )
        for b in range(bands)
    )
    ctes = f"""dd AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 3 THEN 'corpus'
                      ELSE ({"['" + "', '".join(langs) + "']"})[CAST(floor((doc_id % 128) / 4.0)
                                        AS INTEGER) + 1] END AS true_lang,
                 CASE WHEN doc_id % 4 = 3 THEN text
                      ELSE ({snip_arr})[CAST(floor((doc_id % 128) / 4.0)
                                        AS INTEGER) + 1]
                           || ' ' || CAST(doc_id % 7 AS VARCHAR) END AS text
          FROM documents
        ),
        ckeep AS (
          SELECT md5(text) AS digest, min(doc_id) AS doc_id
          FROM dd GROUP BY 1
        ),
        canon AS MATERIALIZED (
          SELECT d2.doc_id, d2.true_lang, d2.text,
                 lower(coalesce(d2.text, '')) AS s,
                 {_TOKENS_SQL.replace("text", "d2.text")} AS toks
          FROM dd d2 JOIN ckeep ck ON d2.doc_id = ck.doc_id
        ),
        rt AS MATERIALIZED (
          SELECT doc_id, true_lang, s, toks,
                 ({p['cont']}) * 2 > ({p['letters']}) AS cont,
                 CASE WHEN len(toks) >= 3 THEN 1 ELSE 0 END AS wv
          FROM canon
        ),
        wsh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(toks) - 2),
                          i -> array_to_string(toks[i:i+2], ' '))) AS shingle
            FROM rt WHERE NOT cont)
        ),
        csh AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, substr(s, CAST(i AS INTEGER), 6) AS shingle
            FROM (SELECT doc_id, s, unnest(range(1, length(s) - 4)) AS i
                  FROM rt WHERE cont AND length(s) >= 6))
        ),
        sh AS (
          SELECT * FROM wsh UNION ALL SELECT * FROM csh
        ),
        sig AS (
          SELECT doc_id,
                 {mh_cols}
          FROM sh GROUP BY doc_id
        ),
        bandt AS (
          {band_selects}
        )"""
    cand = """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bandt a
          JOIN bandt b ON a.band = b.band
                      AND a.band_hash = b.band_hash
                      AND a.doc_id < b.doc_id"""
    return ctes, cand


def _near_dup_pairs_script_oracle(k: int = 8, bands: int = 4) -> str:
    """Twin of near_dup_pairs_script: the planted mix corpus, the
    exact-digest pre-collapse, SCRIPT-ROUTED shingles (char 6-grams
    where continua letters hold the majority — the same
    _scriptq_sql_parts routing arithmetic — word 3-grams otherwise),
    then the standard min-md5 signature / band-hash / equi-self-join
    LSH chain of _doc_lsh_oracle_params and the per-language
    word-visibility rollup. Deterministic md5 arithmetic end to end."""
    ctes, cand = _script_pairs_oracle_parts(k, bands)
    return f"""
        WITH {ctes},
        cand AS (
          {cand}
        )
        SELECT ra.true_lang, ra.wv * rb.wv AS word_visible,
               count(*) AS n_pairs
        FROM cand c
        JOIN rt ra ON ra.doc_id = c.doc_a
        JOIN rt rb ON rb.doc_id = c.doc_b
        GROUP BY 1, 2
    """


def _bpe_compression_oracle() -> str:
    """Twin of bpe_compression_by_lang: the shared applied-BPE prefix
    with the 32-language planted corpus as the apdocs source (extra
    true_lang column rides along), rolled up per language."""
    langs, snippets = _multiscript_corpus()
    nl = len(langs)
    lang_arr = "['" + "', '".join(langs) + "']"
    snip_arr = "['" + "', '".join(snippets) + "']"
    body = f"""SELECT doc_id,
                 ({lang_arr})[CAST(doc_id % {nl} AS INTEGER) + 1]
                   AS true_lang,
                 ({snip_arr})[CAST(doc_id % {nl} AS INTEGER) + 1]
                   AS text
          FROM documents"""
    return f"""{_bpe_applied_prefix(apdocs_body=body)}
        SELECT p.true_lang,
               count(*) AS n_words,
               CAST(sum(length(s.w)) AS BIGINT) AS n_chars,
               CAST(sum(greatest(
                 length(s.seg) - length(replace(s.seg, chr(1), '')) - 1,
                 0)) AS BIGINT) AS n_subwords,
               round(CAST(sum(length(s.w)) AS DOUBLE)
                     / sum(greatest(
                         length(s.seg)
                         - length(replace(s.seg, chr(1), '')) - 1, 0)), 6)
                 AS chars_per_subword
        FROM aseg{_BPE_K} s JOIN apdocs p USING (doc_id)
        GROUP BY 1
    """


def _html_extracted_oracle() -> str:
    """Twin of html_extracted_stats: the same scaffold concat, the
    extraction chain rendered by functions/html.py:html_to_text_sql
    (built from the SAME step tables as the Spark expression), same
    token counts and md5."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.html import (
        html_to_text_sql,
    )

    scaffold = (
        "'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || "
        "'</title><style>p { color: red; }</style></head>"
        "<body><script type=\"text/javascript\">var x = 1 "
        "&amp;&amp; 2;</script><h1>Q&amp;A &lt;notes&gt;</h1>"
        "<!-- trace ' || CAST(doc_id AS VARCHAR) || "
        "' --><p class=\"main\">' || text || "
        "'</p><div>&nbsp;&quot;end&quot;</div></body></html>'"
    )
    ext = html_to_text_sql("html")
    toks_html = _TOKENS_SQL.replace("(text)", "(html)")
    toks_ext = _TOKENS_SQL.replace("(text)", f"(({ext}))")
    return f"""
        WITH h AS (
          SELECT doc_id, {scaffold} AS html FROM documents
        )
        SELECT doc_id,
               CAST(len({toks_html}) AS INTEGER) AS n_tokens_raw,
               CAST(len({toks_ext}) AS INTEGER) AS n_tokens_text,
               md5({ext}) AS digest
        FROM h
    """


def _dedup_survivors_script_oracle(k: int = 8, bands: int = 4) -> str:
    """Twin of dedup_survivors_script: the script-routed pair chain,
    transitive closure via recursive CTE (min reachable id = the
    label the Spark pointer-jump CC converges to), survivors = docs
    that ARE their cluster minimum (singletons trivially so), rolled
    up per language."""
    ctes, cand = _script_pairs_oracle_parts(k, bands)
    return f"""
        WITH RECURSIVE {ctes},
        pairs AS (
          {cand}
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        cnodes AS (SELECT DISTINCT a AS node FROM edges),
        reach(src, node) AS (
          SELECT node, node FROM cnodes
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
        ),
        comp AS (
          SELECT src, min(node) AS cluster FROM reach GROUP BY 1
        )
        SELECT rt.true_lang, count(*) AS n_canon,
               CAST(sum(CASE WHEN coalesce(c.cluster, rt.doc_id)
                                  = rt.doc_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
               CAST(sum(CASE WHEN coalesce(c.cluster, rt.doc_id)
                                  <> rt.doc_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM rt LEFT JOIN comp c ON c.src = rt.doc_id
        GROUP BY 1
    """


def _triangles_oracle() -> str:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.triangles import (
        TRIANGLE_ORACLE_TEMPLATE,
    )

    return (
        "WITH "
        + EDGES_CTE
        + """,
        graph AS (
          SELECT pre_region_id AS src, region_id AS dst FROM edges
        ),"""
        + TRIANGLE_ORACLE_TEMPLATE
    )


def _cc_oracle() -> str:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.triangles import (
        TRIANGLE_ORACLE_CTES,
    )

    return (
        "WITH "
        + EDGES_CTE
        + """,
        graph AS (
          SELECT pre_region_id AS src, region_id AS dst FROM edges
        ),"""
        + TRIANGLE_ORACLE_CTES
        + """
        , tri AS (
          SELECT node, count(*) AS n_tri FROM (
            SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
          ) GROUP BY 1
        )
        SELECT CAST(d.node AS INTEGER) AS node,
               CAST(d.deg AS BIGINT) AS deg,
               CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
               CASE WHEN d.deg >= 2 THEN
                 CAST(2 * coalesce(t.n_tri, 0) AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
               ELSE 0.0 END AS clustering_coeff
        FROM deg d LEFT JOIN tri t ON t.node = d.node
        """
    )


def _pca_oracle() -> str:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pca import (
        pca_oracle_sql,
    )

    emb_cte = """
        e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
        )"""
    return pca_oracle_sql(emb_cte, dim=64, iterations=3)


def _hits_oracle() -> str:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.hits import (
        hits_oracle_sql,
    )

    graph_cte = (
        EDGES_CTE
        + """,
        graph AS (
          SELECT pre_region_id AS src, region_id AS dst FROM edges
        )"""
    )
    return hits_oracle_sql(graph_cte, iterations=3)


def _pagerank_oracle() -> str:
    """Unrolled-CTE PageRank twin over the OD region graph — the graph
    CTE reuses EDGES_CTE (the gap-filled trajectory mirror) exactly as
    the Spark side reuses gap_fill_edges."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pagerank import (
        pagerank_oracle_sql,
    )

    graph_cte = (
        EDGES_CTE
        + """,
        graph AS (
          SELECT pre_region_id AS src, region_id AS dst, count(*) AS cnt
          FROM edges GROUP BY 1, 2
        )"""
    )
    return pagerank_oracle_sql(graph_cte, iterations=10)


def _lpa_oracle() -> str:
    """Unrolled label-propagation twin over the weighted OD graph —
    graph CTE from EDGES_CTE exactly as the Spark side builds it from
    od_matrix."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.labelprop import (
        lpa_oracle_sql,
    )

    graph_cte = (
        EDGES_CTE
        + """,
        graph AS (
          SELECT pre_region_id AS src, region_id AS dst, count(*) AS w
          FROM edges GROUP BY 1, 2
        )"""
    )
    return lpa_oracle_sql(graph_cte, rounds=4)


def _kmeans_oracle() -> str:
    """Unrolled Lloyd's twin over the embeddings table."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_oracle_sql,
    )

    emb_cte = """
        e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
        )"""
    return kmeans_oracle_sql(emb_cte, k=8, iterations=3)


def _ivf_kmeans_oracle() -> str:
    """ivf_topk's probe/rank SQL on top of the unrolled Lloyd CTE
    chain — the trained-codebook twin, composed structurally."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_oracle_ctes,
    )

    emb_cte = """
        e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
        )"""
    ctes = kmeans_oracle_ctes(emb_cte, k=16, iterations=3)
    return f"""
        WITH {ctes},
        cent AS (
          SELECT cluster AS centroid_id, c AS cent_emb FROM cent3
        ),
        corpus AS (SELECT vec_id, emb AS c_emb FROM e),
        assign AS (
          SELECT c2.vec_id, cent.centroid_id, c2.c_emb
          FROM corpus c2 CROSS JOIN cent
          QUALIFY row_number() OVER (PARTITION BY c2.vec_id
            ORDER BY {_cos_ab('cent_emb', 'c_emb')} DESC, centroid_id ASC) = 1
        ),
        probes AS (
          SELECT c2.vec_id AS query_id, c2.c_emb AS q_emb, cent.centroid_id
          FROM corpus c2 CROSS JOIN cent
          WHERE c2.vec_id < 5
          QUALIFY row_number() OVER (PARTITION BY c2.vec_id
            ORDER BY {_cos_ab('cent_emb', 'c_emb')} DESC, centroid_id ASC) <= 4
        ),
        pairs AS (
          SELECT p.query_id, a.vec_id, {_cos_ab('q_emb', 'c_emb')} AS cos_r
          FROM assign a JOIN probes p USING (centroid_id)
          WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, vec_id, cos_r,
               CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
        FROM pairs QUALIFY rank <= 3
    """


def _semantic_dedup_kmeans_oracle() -> str:
    """semantic_dedup's assignment + keep-min prune SQL on top of the
    unrolled Lloyd CTE chain — the trained-codebook twin, composed
    structurally like _ivf_kmeans_oracle."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_oracle_ctes,
    )

    emb_cte = """
        e AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings
        )"""
    ctes = kmeans_oracle_ctes(emb_cte, k=16, iterations=3)
    return f"""
        WITH {ctes},
        cent AS (
          SELECT cluster AS centroid_id, c AS cent_emb FROM cent3
        ),
        corpus AS (SELECT vec_id, emb AS c_emb FROM e),
        assign AS MATERIALIZED (
          SELECT c2.vec_id, cent.centroid_id AS cluster, c2.c_emb
          FROM corpus c2 CROSS JOIN cent
          QUALIFY row_number() OVER (PARTITION BY c2.vec_id
            ORDER BY {_cos_ab('cent_emb', 'c_emb')} DESC, centroid_id ASC) = 1
        ),
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM assign a JOIN assign b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE {_cos_ab('a.c_emb', 'b.c_emb')} >= 0.35
        )
        SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
               d.vec_id IS NULL AS kept
        FROM assign a LEFT JOIN drops d USING (vec_id)
    """


def _kcore_oracle() -> str:
    """Unrolled peeling twin over the symmetrized top-3 OD graph."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kcore import (
        k_core_oracle_sql,
    )

    graph_cte = (
        EDGES_CTE
        + """,
        tot AS (
          SELECT pre_region_id AS orig, region_id AS dest,
                 count(*) AS w
          FROM edges GROUP BY 1, 2
        ),
        sparse AS (
          SELECT src, dst FROM (
            SELECT orig AS src, dest AS dst, w,
                   row_number() OVER (PARTITION BY orig
                     ORDER BY w DESC, dest ASC) AS rn
            FROM tot WHERE orig <> dest
          ) WHERE rn <= 3
        ),
        graph AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM sparse
            UNION ALL SELECT dst, src FROM sparse
          )
        )"""
    )
    return k_core_oracle_sql(graph_cte, k=4, rounds=6)


def _benford_digit_sql() -> str:
    """Flat divisor-lookup CASE — the exact mirror of
    _q_benford_digits' when-chain (largest power of ten ≤ d0 wins;
    explicit floor, never a bare double→int CAST: DuckDB rounds,
    Spark truncates)."""
    branches = " ".join(
        f"WHEN d0 >= {p} THEN {p}"
        for p in (10000000, 1000000, 100000, 10000, 1000, 100, 10)
    )
    return (
        f"CAST(floor(d0 / (CASE {branches} ELSE 1 END)) AS BIGINT)"
    )


def _bfs_oracle() -> str:
    """Unrolled BFS twin over the top-3-sparsified OD graph."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.bfs import (
        bfs_oracle_sql,
    )

    graph_cte = (
        EDGES_CTE
        + """,
        od AS (
          SELECT pre_region_id AS orig, region_id AS dest,
                 count(*) AS cnt
          FROM edges WHERE pre_region_id <> region_id
          GROUP BY 1, 2
        ),
        graph AS (
          SELECT src, dst FROM (
            SELECT orig AS src, dest AS dst,
                   row_number() OVER (
                     PARTITION BY orig
                     ORDER BY cnt DESC, dest ASC) AS rn
            FROM od
          ) WHERE rn <= 3
        )"""
    )
    return bfs_oracle_sql(graph_cte, source=1, max_hops=6)


def _harmonic_oracle() -> str:
    """Unrolled multi-source-BFS harmonic twin over the same top-3
    sparsified OD graph as the BFS oracle."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.bfs import (
        harmonic_oracle_sql,
    )

    graph_cte = (
        EDGES_CTE
        + """,
        od AS (
          SELECT pre_region_id AS orig, region_id AS dest,
                 count(*) AS cnt
          FROM edges WHERE pre_region_id <> region_id
          GROUP BY 1, 2
        ),
        graph AS (
          SELECT src, dst FROM (
            SELECT orig AS src, dest AS dst,
                   row_number() OVER (
                     PARTITION BY orig
                     ORDER BY cnt DESC, dest ASC) AS rn
            FROM od
          ) WHERE rn <= 3
        )"""
    )
    return harmonic_oracle_sql(graph_cte, max_hops=4)


def _closeness_oracle() -> str:
    """Unrolled multi-source-BFS closeness twin over the same top-3
    sparsified OD graph as the harmonic oracle."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.bfs import (
        closeness_oracle_sql,
    )

    graph_cte = (
        EDGES_CTE
        + """,
        od AS (
          SELECT pre_region_id AS orig, region_id AS dest,
                 count(*) AS cnt
          FROM edges WHERE pre_region_id <> region_id
          GROUP BY 1, 2
        ),
        graph AS (
          SELECT src, dst FROM (
            SELECT orig AS src, dest AS dst,
                   row_number() OVER (
                     PARTITION BY orig
                     ORDER BY cnt DESC, dest ASC) AS rn
            FROM od
          ) WHERE rn <= 3
        )"""
    )
    return closeness_oracle_sql(graph_cte, max_hops=4)


def _split_leakage_oracle() -> str:
    """MinHash pair CTEs composed with the hash-split assignment."""
    ctes, pairs_select = _minhash_oracle_parts(k=8, bands=4)
    return f"""
        WITH {ctes},
        pairs AS ({pairs_select}),
        spl AS (
          SELECT doc_id,
                 CASE WHEN ({_HEX8_SQL}) / 4294967296.0 < 0.9 THEN 'train'
                      WHEN ({_HEX8_SQL}) / 4294967296.0 < 0.95 THEN 'val'
                      ELSE 'test' END AS split
          FROM (
            SELECT doc_id,
                   md5('split' || CAST(doc_id AS VARCHAR)) AS hx
            FROM documents
          )
        )
        SELECT p.doc_a, p.doc_b, s1.split AS split_a, s2.split AS split_b
        FROM pairs p
        JOIN spl s1 ON s1.doc_id = p.doc_a
        JOIN spl s2 ON s2.doc_id = p.doc_b
        WHERE s1.split <> s2.split
    """


def _cos_ab(a: str, b: str) -> str:
    """Cosine between two named DOUBLE[] columns, rounded to 6 — the
    same sequential fold order as functions/vectors.py (0.0-seeded
    left fold == seedless left fold: 0.0 + x is exact)."""
    fold_sq = "list_reduce(list_transform({v}, x -> x * x), (p, q) -> p + q)"
    d = (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )
    return (
        f"round({d} / (sqrt({fold_sq.format(v=a)}) * "
        f"sqrt({fold_sq.format(v=b)})), 6)"
    )


def oracle_sql() -> dict[str, str]:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.quality import (
        MEAN_ROUND,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        MAX_BITS,
        MIN_BITS,
    )

    fold_sq = "list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b)"
    dot = (
        "list_reduce(list_transform(generate_series(1, len(q_emb)), "
        "i -> q_emb[i] * c_emb[i]), (a, b) -> a + b)"
    )
    cos = (
        f"round({dot} / (sqrt({fold_sq.format(v='q_emb')}) * "
        f"sqrt({fold_sq.format(v='c_emb')})), 6)"
    )
    # Size-adaptive LSH parameters — the SQL twin of
    # operators.similarity.adaptive_nbits / sign_bucket / probe_buckets:
    # nbits from count(*), bucket from the first-nbits sign bits,
    # probes = home bucket + one single-bit flip per sign bit.
    nbits_sql = (
        f"GREATEST({MIN_BITS}, LEAST({MAX_BITS}, "
        "CAST(ceil(log2(count(*) / 16.0)) AS INTEGER)))"
    )
    dyn_bucket = (
        "CAST(list_sum(list_transform(generate_series(1, (SELECT nbits FROM params)), "
        "j -> CASE WHEN {v}[j] >= 0 THEN CAST(2**(j-1) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )
    probe_list = (
        "list_prepend(bucket, "
        "list_transform(generate_series(1, (SELECT nbits FROM params)), "
        "j -> xor(bucket, CAST(2**(j-1) AS BIGINT))))"
    )
    hav = (
        "2 * 6372800.0 * asin(sqrt("
        "pow(sin(radians(lat - pre_lat) / 2), 2) + "
        "cos(radians(pre_lat)) * cos(radians(lat)) * "
        "pow(sin(radians(lon - pre_lon) / 2), 2)))"
    )
    out = {
        "occupancy_by_region_hour": f"""
            SELECT CAST({REGION_SQL} AS INTEGER) AS region_id,
                   date_trunc('hour', ts) AS hour,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "hourly_positions_latest": f"""
            WITH {POSITIONS_CTE}
            SELECT user_id, hour, region_id FROM pos
        """,
        "trajectory_gap_fill": f"""
            WITH {EDGES_CTE}
            SELECT user_id, region_id, hour, pre_hour, pre_region_id FROM edges
        """,
        "gap_outlier_report": f"""
            WITH {POSITIONS_CTE},
            ctx AS (
              SELECT user_id, hour, region_id,
                     lag(hour) OVER w AS pre_hour,
                     lag(region_id) OVER w AS pre_region_id,
                     date_diff('hour', lag(hour) OVER w, hour) AS gap_h
              FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY hour)
            )
            SELECT user_id, region_id, hour, pre_hour, pre_region_id, gap_h
            FROM ctx WHERE gap_h > 24
        """,
        "district_poi_profile": """
            SELECT (s_suppkey % 7) + 1 AS type,
                   count(*) AS n,
                   count(DISTINCT s_suppkey % 10) AS n_kinds,
                   count(DISTINCT s_suppkey % 16) AS n_admincodes,
                   min(121.0 + s_suppkey / 1000.0) AS min_lon,
                   max(30.6 + s_suppkey / 700.0) AS max_lat,
                   min(s_name) AS first_title
            FROM supplier GROUP BY 1
        """,
        "od_matrix": f"""
            WITH {EDGES_CTE}
            SELECT hour, pre_region_id AS orig, region_id AS dest,
                   count(*) AS cnt
            FROM edges GROUP BY 1, 2, 3
        """,
        "od_fractions": f"""
            WITH {EDGES_CTE},
            od AS (
              SELECT hour, pre_region_id AS orig, region_id AS dest,
                     count(*) AS cnt
              FROM edges GROUP BY 1, 2, 3
            )
            SELECT hour, orig, dest, cnt,
                   CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY hour, orig) AS frac
            FROM od
        """,
        "home_location": f"""
            WITH {NIGHT_ANCHORS_CTE},
            counted AS (
              SELECT user_id, region_id, count(*) AS n
              FROM anchors GROUP BY 1, 2
            )
            SELECT user_id, region_id AS home_region
            FROM counted
            QUALIFY row_number() OVER (
              PARTITION BY user_id ORDER BY n DESC, region_id ASC) = 1
        """,
        "night_single_region_users": f"""
            SELECT user_id, count(DISTINCT CAST({REGION_SQL} AS INTEGER)) AS n_regions
            FROM events
            WHERE hour(ts) >= 19 OR hour(ts) <= 8
            GROUP BY user_id HAVING n_regions = 1
        """,
        "mode_event_type_per_user": """
            WITH counted AS (
              SELECT user_id, event_type, count(*) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT user_id, event_type
            FROM counted
            QUALIFY row_number() OVER (
              PARTITION BY user_id ORDER BY n DESC, event_type ASC) = 1
        """,
        "user_activity_having": """
            SELECT user_id, count(DISTINCT CAST(ts AS DATE)) AS n_days
            FROM events GROUP BY user_id HAVING n_days >= 25
        """,
        "json_extract_stats": """
            SELECT event_type,
                   CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
                   min(CAST(props->>'$.k' AS BIGINT)) AS k_min,
                   max(CAST(props->>'$.k' AS BIGINT)) AS k_max,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_disc_price,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 2) AS avg_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_brand": """
            SELECT p_brand,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "label_centroids": """
            WITH x AS (
              SELECT label, vec_id, u.pos AS pos, u.val AS val FROM (
                SELECT label, vec_id,
                       unnest(list_transform(generate_series(1, len(emb)),
                              i -> {'pos': i, 'val': emb[i]})) AS u
                FROM (SELECT label, vec_id,
                             CAST(embedding AS DOUBLE[]) AS emb
                      FROM embeddings))
            )
            SELECT label, pos,
                   round(list_reduce(list(val ORDER BY vec_id),
                                     (a, b) -> a + b) / count(*), 6) AS m
            FROM x GROUP BY 1, 2
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
                   o_orderpriority,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1998-01-01'
              AND l_shipdate > DATE '1998-01-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, c_acctbal, c_nationkey,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= DATE '1997-01-01'
              AND o_orderdate < DATE '1998-01-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "customers_without_orders": """
            SELECT c_nationkey, count(*) AS n_customers
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            GROUP BY c_nationkey
        """,
        "parts_with_lineitems": """
            SELECT p_brand, count(*) AS n_parts
            FROM part p
            WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
            GROUP BY p_brand
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
            FROM orders QUALIFY rn <= 3
        """,
        "exact_dedup_docs": """
            SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "text_stats": f"""
            WITH t AS (
              SELECT doc_id, text,
                     {_TOKENS_SQL} AS toks,
                     regexp_replace(lower(text), '[a-z0-9 ]', '', 'g') AS stripped
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(toks) AS INTEGER) AS n_tokens,
                   CASE WHEN len(toks) > 0
                        THEN len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t))) / len(toks)
                        ELSE 0.0 END AS stop_ratio,
                   (least(len(toks) / 100.0, 1.0)
                    + least((CASE WHEN len(toks) > 0
                             THEN len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t))) / len(toks)
                             ELSE 0.0 END) * 5.0, 1.0)
                    + (1.0 - (CASE WHEN length(text) > 0
                              THEN length(stripped) / length(text)
                              ELSE 0.0 END))) / 3.0 AS quality
            FROM t
        """,
        "cosine_topk": f"""
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings
            ),
            q AS (
              SELECT vec_id AS query_id, c_emb AS q_emb FROM e WHERE vec_id < 5
            ),
            pairs AS (
              SELECT q.query_id, c.vec_id, {cos} AS cos_r
              FROM e c, q WHERE c.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
            FROM pairs QUALIFY rank <= 3
        """,
        # ---- batch 2: relational breadth --------------------------------
        "filter_project": """
            SELECT event_id, user_id, value,
                   round(CAST(CAST(value AS DECIMAL(18,4)) * CAST(2 AS DECIMAL(18,4)) AS DOUBLE), 4) AS value_x2
            FROM events
            WHERE event_type = 'click' AND value >= 10.0 AND value <= 200.0
        """,
        "case_in_classify": """
            SELECT CASE WHEN event_type IN ('click', 'view') THEN 1
                        WHEN event_type = 'purchase' THEN 2
                        WHEN event_type IN ('signup') THEN 3
                        ELSE 9 END AS type_code,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "revenue_by_region": f"""
            SELECT r_name, {_DEC_TOTALPRICE} AS revenue, count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "running_revenue": """
            SELECT o_custkey, o_orderkey,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
                   AS running_total
            FROM orders
        """,
        "brand_dense_rank": """
            SELECT p_brand,
                   CAST(dense_rank() OVER (ORDER BY p_brand) AS INTEGER) AS brand_id
            FROM (SELECT DISTINCT p_brand FROM part)
        """,
        "two_phase_dense_ids": """
            SELECT p_partkey, p_type,
                   CAST(dense_rank() OVER (ORDER BY p_type) AS INTEGER) AS type_id
            FROM part
        """,
        "rollup_order_status": f"""
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   {_DEC_TOTALPRICE} AS total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "cube_returnflag": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "union_segments": """
            SELECT c_mktsegment, count(*) AS n_customers FROM (
              SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION
              SELECT * FROM customer WHERE c_acctbal > 9000
            ) GROUP BY c_mktsegment
        """,
        "click_and_purchase_users": """
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        """,
        "click_never_purchase_users": """
            SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        """,
        "pivot_hourly_event_counts": """
            SELECT CAST(hour(ts) AS INTEGER) AS hod,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'view') AS view
            FROM events GROUP BY 1
        """,
        "cascade_region_label": """
            WITH fine AS (
              SELECT c_custkey AS k, min(c_mktsegment) AS v
              FROM customer WHERE c_custkey < 50 GROUP BY 1
            ),
            coarse AS (
              SELECT n_nationkey AS k, min(n_name) AS v FROM nation GROUP BY 1
            )
            SELECT coalesce(f.v, c.v, 'UNKNOWN') AS label, count(*) AS n
            FROM events e
            LEFT JOIN fine f ON e.user_id = f.k
            LEFT JOIN coarse c ON (e.user_id % 25) = c.k
            GROUP BY 1
        """,
        "sessionization": """
            WITH flags AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL THEN 1
                          WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1
                          ELSE 0 END AS is_new
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
              SELECT user_id, ts,
                     CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
                     AS session_id
              FROM flags
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end,
                   date_diff('second', min(ts), max(ts)) AS span_s
            FROM sess GROUP BY user_id, session_id
        """,
        "event_gap_histogram": f"""
            WITH {POSITIONS_CTE},
            gaps AS (
              SELECT date_diff('hour',
                       lag(hour) OVER (PARTITION BY user_id ORDER BY hour),
                       hour) AS gap_h
              FROM pos
            )
            SELECT gap_h, count(*) AS n FROM gaps
            WHERE gap_h IS NOT NULL GROUP BY gap_h
        """,
        "first_event_per_user_day": """
            SELECT user_id, CAST(ts AS DATE) AS day, event_id, event_type
            FROM events
            QUALIFY row_number() OVER (
              PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts ASC, event_id ASC) = 1
        """,
        "dedup_keep_latest_per_day": """
            SELECT user_id, CAST(ts AS DATE) AS day, event_id, event_type
            FROM events
            QUALIFY row_number() OVER (
              PARTITION BY user_id, CAST(ts AS DATE)
              ORDER BY ts DESC, event_id DESC) = 1
        """,
        "haversine_hops": f"""
            WITH pts AS (
              SELECT event_id, user_id, ts,
                     30.6 + value / 700.0 AS lat,
                     120.9 + value / 560.0 AS lon
              FROM events
            ),
            hops AS (
              SELECT event_id, lat, lon,
                     lag(lat) OVER w AS pre_lat, lag(lon) OVER w AS pre_lon
              FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            )
            SELECT event_id,
                   CAST(round({hav} / 100.0, 0) AS BIGINT) AS dist_100m
            FROM hops WHERE pre_lat IS NOT NULL
        """,
        "nearest_poi_type": """
            WITH pings AS (
              SELECT event_id,
                     CAST(((user_id % 10) + 10) % 10 AS INTEGER) AS agent_id,
                     30.6 + value / 700.0 AS ltt,
                     120.9 + value / 560.0 AS lgt
              FROM events
            ),
            poi AS (
              SELECT CAST(((s_suppkey % 10) + 10) % 10 AS INTEGER) AS agent_id,
                     30.6 + s_acctbal / 10000.0 AS latitude,
                     120.9 + s_suppkey / 1000.0 AS longitude,
                     CAST(((s_suppkey % 8) + 8) % 8 + 1 AS INTEGER) AS type
              FROM supplier
            ),
            j AS (
              SELECT p.event_id, poi.type,
                     2 * 6372800.0 * asin(sqrt(
                       pow(sin(radians(poi.latitude - p.ltt) / 2), 2) +
                       cos(radians(p.ltt)) * cos(radians(poi.latitude)) *
                       pow(sin(radians(poi.longitude - p.lgt) / 2), 2))) AS dist
              FROM pings p JOIN poi USING (agent_id)
            )
            SELECT event_id, type AS nearest_type
            FROM j
            QUALIFY row_number() OVER (
              PARTITION BY event_id ORDER BY dist ASC, type ASC) = 1
        """,
        "grid_blocked_nearest_poi": """
            WITH pings AS (
              SELECT event_id,
                     30.6 + value / 700.0 AS ltt,
                     120.9 + value / 560.0 AS lgt
              FROM events
            ),
            pings_exp AS (
              SELECT event_id, ltt, lgt,
                     CAST(floor(ltt * 50) AS BIGINT) + di AS p_cell_lat,
                     CAST(floor(lgt * 50) AS BIGINT) + dj AS p_cell_lon
              FROM pings
              CROSS JOIN (SELECT unnest([-1, 0, 1]) AS di)
              CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dj)
            ),
            poi AS (
              SELECT 30.6 + s_acctbal / 10000.0 AS latitude,
                     120.9 + s_suppkey / 1000.0 AS longitude,
                     CAST(((s_suppkey % 8) + 8) % 8 + 1 AS INTEGER) AS type
              FROM supplier
            ),
            poi_cells AS (
              SELECT latitude, longitude, type,
                     CAST(floor(latitude * 50) AS BIGINT) AS p_cell_lat,
                     CAST(floor(longitude * 50) AS BIGINT) AS p_cell_lon
              FROM poi
            ),
            j AS (
              SELECT p.event_id, c.type,
                     2 * 6372800.0 * asin(sqrt(
                       pow(sin(radians(c.latitude - p.ltt) / 2), 2) +
                       cos(radians(p.ltt)) * cos(radians(c.latitude)) *
                       pow(sin(radians(c.longitude - p.lgt) / 2), 2))) AS dist
              FROM pings_exp p
              JOIN poi_cells c USING (p_cell_lat, p_cell_lon)
            )
            SELECT event_id,
                   first(type ORDER BY dist ASC, type ASC) AS nearest_type,
                   count(*) AS n_candidates
            FROM j GROUP BY event_id
        """,
        "active_shipments_monthly": """
            WITH cal AS (
              SELECT CAST(unnest(generate_series(
                       DATE '1992-01-01', DATE '1998-12-01',
                       INTERVAL 1 MONTH)) AS DATE) AS probe_date
            )
            SELECT probe_date, count(*) AS n_active
            FROM cal JOIN (
              SELECT CAST(l_shipdate AS DATE) AS ship_date,
                     CAST(l_shipdate AS DATE)
                       + (((CAST(l_quantity AS INTEGER) % 30) + 30) % 30)
                       AS receipt_date
              FROM lineitem
            ) li
              ON ship_date <= probe_date AND probe_date <= receipt_date
            GROUP BY probe_date
        """,
        "session_window_stats": """
            WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
              SELECT user_id, ts,
                     sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked
            )
            SELECT user_id, min(ts) AS session_start, count(*) AS n_events
            FROM sess GROUP BY user_id, sid
        """,
        "weekday_profile": """
            SELECT CAST(isodow(ts) - 1 AS INTEGER) AS wd,
                   CAST(hour(ts) AS INTEGER) AS hod,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "occupancy_scaled": f"""
            SELECT CAST({REGION_SQL} AS INTEGER) AS region_id,
                   date_trunc('hour', ts) AS hour,
                   count(DISTINCT user_id) AS n_users,
                   count(DISTINCT user_id) * (24281400.0 / 3357267.0) AS n_scaled
            FROM events GROUP BY 1, 2
        """,
        # ---- batch 2: text / similarity / multimodal / streaming --------
        "minhash_lsh_pairs": _minhash_oracle(k=8, bands=4),
        "simhash_docs": _simhash_oracle(nbits=64),
        "simhash_docs_weighted": _simhash_oracle(nbits=64, weighted=True),
        "ngram_jaccard_pairs": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
        """,
        "doc_fingerprint": f"""
            WITH t AS (
              SELECT doc_id,
                     md5(array_to_string(list_sort(list_distinct({_TOKENS_SQL})), ' ')) AS fp
              FROM documents
            )
            SELECT fp, min(doc_id) AS canonical_id, count(*) AS n_docs
            FROM t GROUP BY fp
        """,
        "lang_id": _langid_oracle(),
        "token_stats_by_source": f"""
            WITH t AS (
              SELECT source, len({_TOKENS_SQL}) AS n_tok FROM documents
            )
            SELECT source,
                   CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                   CAST(sum(n_tok) AS DOUBLE) / count(*) AS avg_tokens,
                   count(*) AS n_docs
            FROM t GROUP BY source
        """,
        "embedding_norms": f"""
            SELECT vec_id,
                   round(sqrt({fold_sq.format(v='CAST(embedding AS DOUBLE[])')}), 6) AS norm_r,
                   label
            FROM embeddings
        """,
        "ann_bucketed": f"""
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings
            ),
            params AS (SELECT {nbits_sql} AS nbits FROM e),
            eb AS (SELECT vec_id, c_emb, {dyn_bucket.format(v="c_emb")} AS bucket FROM e),
            q AS (
              SELECT vec_id AS query_id, c_emb AS q_emb, bucket
              FROM eb WHERE vec_id < 5
            ),
            probes AS (
              SELECT query_id, q_emb, unnest({probe_list}) AS bucket FROM q
            ),
            pairs AS (
              SELECT p.query_id, c.vec_id, {cos} AS cos_r
              FROM eb c JOIN probes p USING (bucket)
              WHERE c.vec_id <> p.query_id
            )
            SELECT query_id, vec_id, cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
            FROM pairs QUALIFY rank <= 3
        """,
        "ann_banded": f"""
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings
            ),
            params AS (
              SELECT LEAST(16, {nbits_sql}) AS nbits FROM e
            ),
            eb AS (
              SELECT vec_id, c_emb, tbl,
                     CAST(list_sum(list_transform(
                       generate_series(1, nbits),
                       j -> CASE WHEN c_emb[tbl * nbits + j] >= 0
                                 THEN CAST(2**(j-1) AS BIGINT)
                                 ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
              FROM e
              CROSS JOIN params
              CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS tbl)
            ),
            q AS (
              SELECT vec_id AS query_id, c_emb AS q_emb, tbl, bucket
              FROM eb WHERE vec_id < 5
            ),
            pairs AS (
              SELECT q.query_id, c.vec_id, max({cos}) AS cos_r
              FROM eb c JOIN q USING (tbl, bucket)
              WHERE c.vec_id <> q.query_id
              GROUP BY 1, 2
            )
            SELECT query_id, vec_id, cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
            FROM pairs QUALIFY rank <= 3
        """,
        "ivf_topk": f"""
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings
            ),
            cent AS (
              SELECT vec_id AS centroid_id, c_emb AS cent_emb
              FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
            ),
            assign AS (
              SELECT e.vec_id, cent.centroid_id, e.c_emb
              FROM e CROSS JOIN cent
              QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {_cos_ab('cent_emb', 'c_emb')} DESC, centroid_id ASC) = 1
            ),
            probes AS (
              SELECT e.vec_id AS query_id, e.c_emb AS q_emb, cent.centroid_id
              FROM e CROSS JOIN cent
              WHERE e.vec_id < 5
              QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {_cos_ab('cent_emb', 'c_emb')} DESC, centroid_id ASC) <= 4
            ),
            pairs AS (
              SELECT p.query_id, a.vec_id, {_cos_ab('q_emb', 'c_emb')} AS cos_r
              FROM assign a JOIN probes p USING (centroid_id)
              WHERE a.vec_id <> p.query_id
            )
            SELECT query_id, vec_id, cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
            FROM pairs QUALIFY rank <= 3
        """,
        "semantic_dedup": f"""
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings
            ),
            cent AS (
              SELECT vec_id AS centroid_id, c_emb AS cent_emb
              FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
            ),
            assign AS (
              SELECT e.vec_id, cent.centroid_id AS cluster, e.c_emb
              FROM e CROSS JOIN cent
              QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {_cos_ab('cent_emb', 'c_emb')} DESC, centroid_id ASC) = 1
            ),
            drops AS (
              SELECT DISTINCT b.vec_id
              FROM assign a JOIN assign b
                ON a.cluster = b.cluster AND a.vec_id < b.vec_id
              WHERE {_cos_ab('a.c_emb', 'b.c_emb')} >= 0.35
            )
            SELECT a.vec_id, a.cluster, d.vec_id IS NULL AS kept
            FROM assign a LEFT JOIN drops d USING (vec_id)
        """,
        "ivf_health_report": f"""
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings
            ),
            cent AS (
              SELECT vec_id AS centroid_id, c_emb AS cent_emb
              FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
            ),
            assign AS (
              SELECT e.vec_id, cent.centroid_id,
                     {_cos_ab('cent_emb', 'c_emb')} AS cos_r
              FROM e CROSS JOIN cent
              QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {_cos_ab('cent_emb', 'c_emb')} DESC, centroid_id ASC) = 1
            ),
            lists AS (
              SELECT centroid_id, count(*) AS n, sum(cos_r) AS s
              FROM assign GROUP BY 1
            )
            SELECT CAST(sum(n) AS BIGINT) AS n_vectors,
                   count(*) AS n_lists,
                   round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 4)
                     AS max_list_share,
                   round(CAST(sum(s) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 4)
                     AS mean_assigned_cos,
                   (CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)) >
                     2.0 / (SELECT count(*) FROM cent)
                     AS recenter
            FROM lists
        """,
        "value_stats_by_type": """
            SELECT event_type, count(*) AS n,
                   round(stddev_samp(value), 4) AS sd,
                   round(var_samp(value), 4) AS var,
                   round(corr(value, CAST(hour(ts) AS DOUBLE)), 4) AS corr_hod,
                   round(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 4)
                     AS slope_hod
            FROM events GROUP BY event_type
        """,
        "balance_distribution": """
            SELECT c_custkey, c_nationkey,
                   CAST(round(cume_dist() OVER w *
                        count(*) OVER (PARTITION BY c_nationkey)) AS BIGINT)
                     AS cume_n,
                   count(*) OVER (PARTITION BY c_nationkey) AS n_in_nation,
                   nth_value(c_custkey, 2) OVER (
                     PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                   ) AS second_richest
            FROM customer
            WINDOW w AS (
              PARTITION BY c_nationkey
              ORDER BY c_acctbal DESC, c_custkey ASC)
        """,
        "user_set_ops": """
            SELECT 'intersect' AS op, user_id FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              INTERSECT
              SELECT user_id FROM events WHERE event_type = 'purchase'
            )
            UNION ALL
            SELECT 'except_all' AS op, user_id FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              EXCEPT ALL
              SELECT user_id FROM events WHERE event_type = 'purchase'
            )
        """,
        "unpivot_lineitem_measures": """
            WITH melted AS (
              SELECT measure, val FROM (
                SELECT l_orderkey, l_quantity, l_extendedprice, l_discount, l_tax
                FROM lineitem
              ) UNPIVOT (val FOR measure IN
                (l_quantity, l_extendedprice, l_discount, l_tax))
            )
            SELECT measure, count(*) AS n,
                   round(CAST(sum(CAST(val AS DECIMAL(18,4))) AS DOUBLE), 2)
                     AS total
            FROM melted GROUP BY measure
        """,
        "zorder_cells": f"""
            WITH cells AS (
              SELECT CAST(greatest(0, least(255,
                       floor((120.9 + value / 560.0 - 120.5) / 2.5 * 256)))
                       AS BIGINT) AS cx,
                     CAST(greatest(0, least(255,
                       floor((30.6 + value / 700.0 - 30.5) / 2.0 * 256)))
                       AS BIGINT) AS cy
              FROM events
            ),
            keyed AS (
              SELECT ({" | ".join(
                  f"(((cx >> {i}) & 1) << {2 * i}) | (((cy >> {i}) & 1) << {2 * i + 1})"
                  for i in range(8)
              )}) AS zkey
              FROM cells
            )
            SELECT zkey, count(*) AS n
            FROM keyed GROUP BY zkey
            ORDER BY n DESC, zkey ASC LIMIT 50
        """,
        "frame_samples": """
            WITH idx AS (
              SELECT doc_id, text,
                     unnest(generate_series(0, length(text) // 64 - 1, 2)) AS frame_idx
              FROM documents
              WHERE length(text) >= 64
            )
            SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
                   CAST(64 AS INTEGER) AS n_frame_bytes,
                   md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_digest
            FROM idx
        """,
        "pii_scrub": r"""
            WITH low AS (SELECT doc_id, lower(text) AS t FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t,
                     '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS INTEGER)
                     AS n_emails,
                   CAST(len(regexp_extract_all(t, '[0-9][0-9][0-9]+'))
                     AS INTEGER) AS n_digit_runs,
                   md5(regexp_replace(
                     regexp_replace(t,
                       '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+',
                       '<EMAIL>', 'g'),
                     '[0-9][0-9][0-9]+', '<NUM>', 'g')) AS redacted_digest
            FROM low
        """,
        "repetition_signals": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
            stats AS (
              SELECT doc_id, count(*) AS n_tokens,
                     count(DISTINCT tok) AS n_distinct,
                     sum(len(tok)) AS total_len
              FROM tok GROUP BY doc_id
            ),
            bg0 AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(t) - 1),
                            i -> array_to_string(t[i:i+1], ' '))) AS bigram
              FROM toks
            ),
            bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg0 GROUP BY 1, 2),
            bg AS (
              SELECT doc_id, max(c) AS top_bg, sum(c) AS total_bg
              FROM bgc GROUP BY doc_id
            )
            SELECT s.doc_id, n_tokens,
                   round(1.0 - n_distinct / CAST(n_tokens AS DOUBLE), 6)
                     AS dup_token_ratio,
                   round(coalesce(top_bg / CAST(total_bg AS DOUBLE), 0.0), 6)
                     AS top_bigram_frac,
                   round(total_len / CAST(n_tokens AS DOUBLE), 6)
                     AS mean_token_len
            FROM stats s LEFT JOIN bg USING (doc_id)
        """,
        "doc_sample_10pct": f"""
            WITH h AS (
              SELECT doc_id, source, lang,
                     md5('sample' || CAST(doc_id AS VARCHAR)) AS hx
              FROM documents
            )
            SELECT doc_id, source, lang FROM h
            WHERE ({_HEX8_SQL}) / 4294967296.0 < 0.1
        """,
        "corpus_split_counts": f"""
            WITH h AS (
              SELECT doc_id, source,
                     md5('split' || CAST(doc_id AS VARCHAR)) AS hx
              FROM documents
            ),
            assigned AS (
              SELECT source,
                     CASE WHEN ({_HEX8_SQL}) / 4294967296.0 < 0.9 THEN 'train'
                          WHEN ({_HEX8_SQL}) / 4294967296.0 < 0.95 THEN 'val'
                          WHEN ({_HEX8_SQL}) / 4294967296.0 < 1.0 THEN 'test'
                          ELSE 'test' END AS split
              FROM h
            )
            SELECT split, source, count(*) AS n_docs
            FROM assigned GROUP BY 1, 2
        """,
        "multimodal_meta": f"""
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                   CAST({_HEXPOS.format(j=1)} * 16 + {_HEXPOS.format(j=2)} AS INTEGER) AS fake_width,
                   CAST({_HEXPOS.format(j=3)} * 16 + {_HEXPOS.format(j=4)} AS INTEGER) AS fake_height,
                   md5(text) AS digest
            FROM documents
        """,
        "multimodal_decode": """
            SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INTEGER)
                     WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'wav'
                   END AS kind,
                   CASE WHEN doc_id % 3 <> 2
                        THEN CAST(1 + doc_id % 31 AS INTEGER) END AS width,
                   CASE WHEN doc_id % 3 <> 2
                        THEN CAST(1 + doc_id % 17 AS INTEGER) END AS height,
                   CASE WHEN doc_id % 3 <> 2 THEN CAST(3 AS INTEGER)
                        ELSE CAST(1 AS INTEGER) END AS n_channels,
                   CASE WHEN doc_id % 3 = 2
                        THEN CAST(8000 + (doc_id % 5) * 1000 AS INTEGER)
                   END AS sample_rate,
                   CASE WHEN doc_id % 3 = 2
                        THEN CAST(100 + doc_id % 400 AS BIGINT) END AS n_samples,
                   CASE WHEN doc_id % 3 = 2
                        THEN CAST(100 + doc_id % 400 AS DOUBLE) * 1000.0
                             / (8000 + (doc_id % 5) * 1000)
                   END AS duration_ms,
                   CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_byte
            FROM documents
        """,
        "multimodal_decode_jpeg": """
            SELECT doc_id,
                   'jpeg' AS kind,
                   CAST(1 + doc_id % 23 AS INTEGER) AS width,
                   CAST(1 + doc_id % 11 AS INTEGER) AS height,
                   CAST(1 AS INTEGER) AS n_channels,
                   CAST(NULL AS INTEGER) AS sample_rate,
                   CAST(NULL AS BIGINT) AS n_samples,
                   CAST(NULL AS DOUBLE) AS duration_ms,
                   CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_byte
            FROM documents
        """,
        "multimodal_decode_png": """
            SELECT doc_id,
                   'png' AS kind,
                   CAST(1 + doc_id % 29 AS INTEGER) AS width,
                   CAST(1 + doc_id % 13 AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS n_channels,
                   CAST(NULL AS INTEGER) AS sample_rate,
                   CAST(NULL AS BIGINT) AS n_samples,
                   CAST(NULL AS DOUBLE) AS duration_ms,
                   CAST((doc_id * 11) % 256 AS DOUBLE) AS mean_byte
            FROM documents
        """,
        "streaming_occupancy": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        """,
        "user_event_type_profile": """
            SELECT user_id,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "type_occupancy": f"""
            SELECT CAST({REGION_SQL} AS INTEGER) AS region_id,
                   event_type,
                   date_trunc('hour', ts) AS hour,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2, 3
        """,
        "asof_last_purchase": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ),
            buys AS (
              SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
            )
            SELECT c.event_id, c.user_id, b.value AS asof_value
            FROM clicks c
            ASOF LEFT JOIN buys b
              ON c.user_id = b.user_id AND b.ts <= c.ts
        """,
        "signup_error_full_outer": """
            WITH s AS (
              SELECT user_id, count(*) AS n_signups FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ),
            e AS (
              SELECT user_id, count(*) AS n_errors FROM events
              WHERE event_type = 'error' GROUP BY user_id
            )
            SELECT coalesce(s.user_id, e.user_id) AS user_id,
                   coalesce(n_signups, 0) AS n_signups,
                   coalesce(n_errors, 0) AS n_errors
            FROM s FULL OUTER JOIN e ON s.user_id = e.user_id
        """,
        "top_docs_by_length": """
            SELECT doc_id, n_chars, source FROM documents
            ORDER BY n_chars DESC, doc_id ASC LIMIT 20
        """,
        "occupancy_two_phase": f"""
            SELECT region_id, hour, count(*) AS n_users FROM (
              SELECT DISTINCT CAST({REGION_SQL} AS INTEGER) AS region_id,
                     date_trunc('hour', ts) AS hour, user_id
              FROM events
            ) GROUP BY region_id, hour
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "embedding_near_dup": f"""
            WITH e0 AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
            ),
            params AS (SELECT {nbits_sql} AS nbits FROM e0),
            e AS (SELECT vec_id, emb, {dyn_bucket.format(v="emb")} AS bucket FROM e0),
            ap AS (
              SELECT vec_id, emb, unnest({probe_list}) AS probe FROM e
            ),
            pairs AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     round(
                       list_reduce(list_transform(generate_series(1, len(a.emb)),
                                   i -> a.emb[i] * b.emb[i]), (x, y) -> x + y)
                       / (sqrt(list_reduce(list_transform(a.emb, x -> x * x), (x, y) -> x + y))
                          * sqrt(list_reduce(list_transform(b.emb, x -> x * x), (x, y) -> x + y))),
                       6) AS cos_r
              FROM ap a JOIN e b
                ON a.probe = b.bucket AND a.vec_id < b.vec_id
            )
            SELECT vec_a, vec_b, cos_r FROM pairs WHERE cos_r >= 0.44
        """,
        "od_weekly_cycle": f"""
            WITH {EDGES_CTE},
            cyc AS (
              SELECT CAST((isodow(hour) - 1) * 24 + hour(hour) AS INTEGER)
                       AS hour_of_week,
                     pre_region_id AS orig, region_id AS dest,
                     count(*) AS cnt
              FROM edges GROUP BY 1, 2, 3
            )
            SELECT hour_of_week, orig, dest, cnt,
                   CAST(cnt AS DOUBLE) /
                     sum(cnt) OVER (PARTITION BY hour_of_week, orig) AS frac
            FROM cyc
        """,
        "local_supplier_volume": """
            SELECT n_name,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
                   count(*) AS n_items
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "unshipped_orders_top10": """
            SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
                   o_orderpriority,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
                            (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "order_deciles": """
            WITH d AS (
              SELECT o_totalprice,
                     CAST(ntile(10) OVER (
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS decile
              FROM orders
            )
            SELECT decile, count(*) AS n,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
            FROM d GROUP BY decile
        """,
        "price_percent_rank": """
            SELECT p_partkey, p_retailprice,
                   percent_rank() OVER (
                     ORDER BY p_retailprice ASC, p_partkey ASC) AS pr
            FROM part
        """,
        "like_filter_parts": """
            SELECT p_brand, count(*) AS n_parts
            FROM part WHERE p_name LIKE '%gear%'
            GROUP BY p_brand
        """,
        "monthly_order_volume": """
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
            FROM orders GROUP BY 1
        """,
        "near_dup_clusters": _near_dup_clusters_oracle(),
        "dedup_survivors": _dedup_survivors_oracle(),
        "deduped_corpus_stats": _deduped_corpus_stats_oracle(),
        "user_covisit_lsh": _covisit_lsh_oracle(),
        # recall-contract banding: must match choose_lsh_params(3,10,0.9)
        # (pinned in tests/test_plans.py)
        "user_covisit_lsh_t90": _covisit_lsh_oracle_params(50, 25),
        # doc-level contract banding: choose_lsh_params(1,2,0.9) — same pin
        "near_dup_pairs_t90": _doc_lsh_oracle_params(54, 18, 1, 2),
        "simhash_hamming_pairs": _simhash_hamming_oracle(64, 3),
        "simhash_hamming_pairs_h6": _simhash_hamming_oracle(64, 6),
        "containment_pairs": _containment_oracle(4, 5),
        "subsumption_prune": _subsumption_oracle(4, 5),
        "duplicate_spans": _duplicate_spans_oracle(10, 2),
        "span_cleaned_stats": _span_cleaned_oracle(10, 2),
        "span_cleaned_text": _span_cleaned_oracle(10, 2, hashed=False),
        "pii_pattern_spans": _pii_pattern_spans_oracle(),
        "pii_redacted_text": _pii_redacted_oracle(),
        "pii_cut_text": _pii_cut_oracle(),
        # batch 31 (round 12) — URL/domain-aware curation
        "url_domain_extract": f"""
            WITH {_url_domain_ctes()}
            SELECT doc_id, url, host, reg_domain FROM doms
        """,
        "per_domain_caps": f"""
            WITH {_url_domain_ctes()},
            ranked AS (
              SELECT doc_id, reg_domain,
                     CAST(row_number() OVER (
                       PARTITION BY reg_domain
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       AS INTEGER) AS rk
              FROM doms
            )
            SELECT doc_id, reg_domain, rk FROM ranked WHERE rk <= 5
        """,
        "domain_blocklist_kept": f"""
            WITH {_url_domain_ctes()},
            bl AS (
              SELECT DISTINCT reg_domain FROM doms WHERE doc_id % 10 = 0
            )
            SELECT d.doc_id, d.reg_domain
            FROM doms d ANTI JOIN bl USING (reg_domain)
        """,
        "url_canonicalized": f"""
            WITH {_url_canon_ctes()}
            SELECT doc_id, url, canon_url FROM canon
        """,
        "canonical_url_dedup": f"""
            WITH {_url_canon_ctes()}
            SELECT min(doc_id) AS doc_id, canon_url,
                   count(*) AS n_dups
            FROM canon GROUP BY canon_url
        """,
        "per_domain_best": f"""
            WITH {_url_domain_ctes()},
            t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
            {_quality_margin_ctes()},
            ranked AS (
              SELECT d.doc_id, d.reg_domain, m.margin,
                     CAST(row_number() OVER (
                       PARTITION BY d.reg_domain
                       ORDER BY m.margin DESC, d.doc_id ASC)
                       AS INTEGER) AS rk
              FROM doms d JOIN marg m USING (doc_id)
            )
            SELECT doc_id, reg_domain, margin, rk
            FROM ranked WHERE rk <= 3
        """,
        "linear_quality_scores": f"""
            WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
            {_quality_margin_ctes()}
            SELECT doc_id, n_feats, margin, margin >= 0.0 AS keep
            FROM marg
        """,
        "curation_scored": _curation_oracle(margin_floor=True),
        "pq_adc_topk": f"""
            WITH {_pq_oracle_ctes()}
            SELECT query_id, vec_id, cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
            FROM pq_pairs QUALIFY rank <= 3
        """,
        "pq_topk_refined": f"""
            WITH {_pq_oracle_ctes()},
            short AS (
              SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cos_r DESC, vec_id ASC) AS rn
                FROM pq_pairs
              ) WHERE rn <= 16
            ),
            rer AS (
              SELECT s.query_id, s.vec_id,
                     {_cos_ab('q.q_emb', 'c.emb')} AS cos_r
              FROM short s
              JOIN qv q USING (query_id)
              JOIN e c ON c.vec_id = s.vec_id
            )
            SELECT query_id, vec_id, cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
            FROM rer QUALIFY rank <= 3
        """,
        "ivf_pq_topk": f"""
            WITH {_pq_oracle_ctes()},
            cent AS (
              SELECT vec_id AS centroid_id, emb AS cent_emb
              FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
            ),
            assign AS (
              SELECT e.vec_id, cent.centroid_id
              FROM e CROSS JOIN cent
              QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {_cos_ab('cent_emb', 'emb')} DESC,
                         centroid_id ASC) = 1
            ),
            probes AS (
              SELECT q.query_id, cent.centroid_id
              FROM qv q CROSS JOIN cent
              QUALIFY row_number() OVER (PARTITION BY q.query_id
                ORDER BY {_cos_ab('cent_emb', 'q_emb')} DESC,
                         centroid_id ASC) <= 4
            ),
            cand AS (
              SELECT p.query_id, a.vec_id
              FROM assign a JOIN probes p USING (centroid_id)
              WHERE a.vec_id <> p.query_id
            )
            SELECT c.query_id, c.vec_id, pp.cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY c.query_id
                     ORDER BY pp.cos_r DESC, c.vec_id ASC) AS INTEGER) AS rank
            FROM cand c
            JOIN pq_pairs pp
              ON pp.query_id = c.query_id AND pp.vec_id = c.vec_id
            QUALIFY rank <= 3
        """,
        "psl_registered_domains": _psl_oracle(),
        "pq_topk_trained": _pq_trained_oracle(),
        "charlm_quality": _charlm_oracle(),
        "lang_id_ngram": _lang_ngram_oracle(),
        "lang_id_script": _lang_script_oracle(),
        "dsir_scores": f"""
            WITH {_dsir_ctes()}
            SELECT doc_id, y, n_feats, score FROM marg
        """,
        "sq8_codes": f"""
            WITH {_sq8_ctes()}
            SELECT c.vec_id, array_to_string(c.codes, ',') AS codes_s,
                   v.anorm
            FROM scodes c JOIN svn v USING (vec_id)
        """,
        "sq8_topk": f"""
            WITH {_sq8_ctes()}
            SELECT query_id, vec_id, cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
            FROM spairs QUALIFY rank <= 3
        """,
        "bpe_merges": f"""
            WITH {_bpe_ctes()}
            {" UNION ALL ".join(
                f"SELECT CAST({r} AS INTEGER) AS step, a AS lhs, b AS rhs, "
                f"CAST(pc AS BIGINT) AS pair_count FROM best{r}"
                for r in range(1, _BPE_K + 1)
            )}
        """,
        "bpe_token_stats": f"""
            WITH {_bpe_ctes()},
            segn AS (
              SELECT w,
                     CAST((length(syms)
                           - length(replace(syms, chr(1), ''))) - 1
                          AS INTEGER) AS n_sub
              FROM bws{_BPE_K}
            ),
            btok AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM documents
            )
            SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
                   CAST(sum(coalesce(s.n_sub, length(t.w))) AS BIGINT)
                     AS n_subwords,
                   CAST(sum(CASE WHEN s.n_sub IS NULL THEN 1 ELSE 0 END)
                        AS INTEGER) AS n_oov
            FROM btok t LEFT JOIN segn s USING (w)
            GROUP BY 1
        """,
        "bpe_token_stats_applied": _bpe_applied_oracle(),
        "dsir_resampled_counts": f"""
            WITH {_dsir_ctes()},
            mx AS (
              SELECT max(score) AS maxs, min(score) AS mins FROM marg
            ),
            dec AS (
              SELECT m.y,
                     CASE WHEN ({_HEX8_SQL}) / 4294967296.0 <
                               (CASE WHEN mx.maxs = mx.mins THEN 1.0
                                ELSE floor((m.score - mx.mins)
                                       / (mx.maxs - mx.mins)
                                       * 1000000.0 + 0.5) / 1000000.0
                                END)
                          THEN 1 ELSE 0 END AS kept
              FROM (SELECT y, score,
                           md5('dsir' || CAST(doc_id AS VARCHAR)) AS hx
                    FROM marg) m, mx
            )
            SELECT y, count(*) AS n_docs,
                   CAST(sum(kept) AS BIGINT) AS n_kept
            FROM dec GROUP BY 1
        """,
        "scorer_trained": f"""
            WITH {_scorer_fit_ctes()}
            SELECT CAST(b AS INTEGER) AS bucket, w AS weight FROM wfin
            UNION ALL
            SELECT -1 AS bucket, bias AS weight FROM biasx
        """,
        "scorer_trained_scores": f"""
            WITH {_scorer_fit_ctes()},
            scored AS (
              SELECT cv.doc_id, cv.y,
                     floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(generate_series(1, {_SCORER_NB}),
                           i -> CAST(cvec[i] AS DOUBLE) * wl[i])),
                       (a, b) -> a + b) / CAST(k AS DOUBLE) + biasx.bias)
                       * 1000000.0 + 0.5) / 1000000.0 AS pred
              FROM cv, wlf, biasx
            )
            SELECT doc_id, y, pred, pred >= 0.5 AS keep FROM scored
        """,
        "scorer_trained_sig": f"""
            WITH {_scorer_sig_ctes()}
            SELECT CAST(b AS INTEGER) AS bucket, w AS weight FROM wfin
            UNION ALL
            SELECT -1 AS bucket, bias AS weight FROM biasx
        """,
        "scorer_sig_scores": f"""
            WITH {_scorer_sig_ctes()},
            scored AS (
              SELECT cv.doc_id, cv.y,
                     floor((0.5 + 0.5 * z / (1.0 + abs(z)))
                           * 1000000.0 + 0.5) / 1000000.0 AS p
              FROM (
                SELECT cv.doc_id, cv.y,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(generate_series(1, {_SCORER_NB}),
                             i -> CAST(cvec[i] AS DOUBLE) * wl[i])),
                         (a, b) -> a + b) / CAST(k AS DOUBLE)
                       + biasx.bias AS z
                FROM cv, wlf, biasx
              ) cv
            )
            SELECT doc_id, y, p, p >= 0.5 AS keep FROM scored
        """,
        "curation_scored_trained": f"""
            WITH {_scorer_fit_ctes()},
            qual AS (
              SELECT t.doc_id, d.text,
                     CAST(len(t.toks) AS INTEGER) AS n_tokens,
                     (least(len(t.toks) / 100.0, 1.0)
                      + least((CASE WHEN len(t.toks) > 0
                               THEN len(list_filter(t.toks,
                                     x -> list_contains({_STOPWORDS_SQL}, x)))
                                    / len(t.toks)
                               ELSE 0.0 END) * 5.0, 1.0)
                      + (1.0 - (CASE WHEN length(d.text) > 0
                                THEN length(regexp_replace(lower(d.text),
                                       '[a-z0-9 ]', '', 'g')) / length(d.text)
                                ELSE 0.0 END))) / 3.0 AS quality
              FROM t JOIN d USING (doc_id)
            ),
            scored AS (
              SELECT cv.doc_id, cv.y,
                     floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(generate_series(1, {_SCORER_NB}),
                           i -> CAST(cvec[i] AS DOUBLE) * wl[i])),
                       (a, b) -> a + b) / CAST(k AS DOUBLE) + biasx.bias)
                       * 1000000.0 + 0.5) / 1000000.0 AS pred
              FROM cv, wlf, biasx
            ),
            kept AS (
              SELECT md5(q.text) AS digest, q.doc_id, s.y, q.n_tokens,
                     q.quality, s.pred
              FROM qual q JOIN scored s USING (doc_id)
              WHERE q.quality >= 0.5 AND q.n_tokens >= 5 AND s.pred >= 0.5
            ),
            canon AS (
              SELECT digest, min(doc_id) AS doc_id FROM kept GROUP BY 1
            )
            SELECT k.doc_id, k.digest, k.y, k.n_tokens, k.quality, k.pred
            FROM kept k JOIN canon c
              ON k.doc_id = c.doc_id AND k.digest = c.digest
        """,
        "curation_full": _curation_oracle(full=True),
        "curation_full_web": _curation_oracle(full=True, web=True),
        "script_quality_stats": _script_quality_oracle(),
        "curation_multiscript": _curation_multiscript_oracle(),
        "sequence_packing_bpe": _bpe_packing_oracle(),
        "near_dup_pairs_script": _near_dup_pairs_script_oracle(),
        "dedup_survivors_script": _dedup_survivors_script_oracle(),
        "html_extracted_stats": _html_extracted_oracle(),
        "bpe_compression_by_lang": _bpe_compression_oracle(),
        "benchmark_decontam_script": _benchmark_decontam_script_oracle(),
        "matryoshka_recall": _matryoshka_oracle(),
        "language_mix_counts": _language_mix_oracle(),
        "quality_calibrated": _quality_calibrated_oracle(),
        "sampled_percentiles": f"""
            WITH hx8 AS (
              SELECT event_type, value, event_id,
                     md5('qtile' || CAST(event_id AS VARCHAR)) AS hx
              FROM events
            ),
            fullr AS (
              SELECT event_type, value,
                     row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY value, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM hx8
            ),
            fullp AS (
              SELECT event_type, max(n) AS n_full,
                     max(CASE WHEN rn = greatest(1,
                       CAST(ceil(0.5 * n) AS BIGINT)) THEN value END)
                       AS p50_full,
                     max(CASE WHEN rn = greatest(1,
                       CAST(ceil(0.95 * n) AS BIGINT)) THEN value END)
                       AS p95_full
              FROM fullr GROUP BY 1
            ),
            sampr AS (
              SELECT event_type, value,
                     row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY value, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM hx8
              WHERE CAST(({_HEX8_SQL}) AS DOUBLE) / 4294967296.0
                    < 0.0625
            ),
            sampp AS (
              SELECT event_type, max(n) AS n_sample,
                     max(CASE WHEN rn = greatest(1,
                       CAST(ceil(0.5 * n) AS BIGINT)) THEN value END)
                       AS p50_sample,
                     max(CASE WHEN rn = greatest(1,
                       CAST(ceil(0.95 * n) AS BIGINT)) THEN value END)
                       AS p95_sample
              FROM sampr GROUP BY 1
            )
            SELECT f.event_type, f.n_full, s.n_sample,
                   f.p50_full, s.p50_sample, f.p95_full, s.p95_sample,
                   round(abs(s.p50_sample - f.p50_full), 6)
                     AS p50_abs_err,
                   round(abs(s.p95_sample - f.p95_full), 6)
                     AS p95_abs_err
            FROM fullp f JOIN sampp s USING (event_type)
        """,
        "kmv_jaccard_types": f"""
            WITH s AS (
              SELECT DISTINCT event_type, user_id,
                     CAST(ts AS DATE) AS day
              FROM events
            ),
            keyed AS (
              SELECT event_type,
                     md5('kmv:' || (CAST(user_id AS VARCHAR) || '|' ||
                         CAST(CAST(ts AS DATE) AS VARCHAR))) AS hx
              FROM events
            ),
            sk AS (
              SELECT event_type, hx, rk FROM (
                SELECT event_type, hx,
                       row_number() OVER (
                         PARTITION BY event_type ORDER BY hx) AS rk
                FROM (SELECT DISTINCT event_type, hx FROM keyed))
              WHERE rk <= 256
            ),
            stats AS (
              SELECT event_type AS g, count(*) AS sz,
                     coalesce(max(CASE WHEN rk = 256
                       THEN ({_HEX8_SQL}) / 4294967296.0 END), 1.0) AS theta
              FROM sk GROUP BY 1
            ),
            gt AS (
              SELECT g, theta,
                     CASE WHEN sz < 256 THEN CAST(sz AS DOUBLE)
                          ELSE 255.0 / theta END AS est
              FROM stats
            ),
            shared AS (
              SELECT a.event_type AS ga, b.et2 AS gb,
                     ({_HEX8_SQL}) / 4294967296.0 AS u
              FROM (SELECT event_type, hx FROM sk) a
              JOIN (SELECT event_type AS et2, hx AS hx2 FROM sk) b
                ON a.hx = b.hx2 AND a.event_type < b.et2
            ),
            prs AS (
              SELECT sh.ga, sh.gb, g1.theta AS ta, g2.theta AS tb,
                     g1.est AS est_a, g2.est AS est_b,
                     sum(CASE WHEN sh.u < least(g1.theta, g2.theta)
                         THEN 1 ELSE 0 END) AS n_below
              FROM shared sh
              JOIN gt g1 ON g1.g = sh.ga
              JOIN gt g2 ON g2.g = sh.gb
              GROUP BY 1, 2, 3, 4, 5, 6
            ),
            sizes AS (
              SELECT event_type, count(*) AS n FROM s GROUP BY 1
            ),
            inter AS (
              SELECT a.event_type AS ga, b.event_type AS gb,
                     count(*) AS n_inter
              FROM s a
              JOIN s b ON a.user_id = b.user_id AND a.day = b.day
                      AND a.event_type < b.event_type
              GROUP BY 1, 2
            )
            SELECT i.ga, i.gb, sa.n AS n_a, sb.n AS n_b,
                   i.n_inter,
                   round(i.n_inter / (sa.n + sb.n - i.n_inter), 6)
                     AS jaccard,
                   round(p.n_below / least(p.ta, p.tb), 3) AS est_inter,
                   round((p.n_below / least(p.ta, p.tb))
                         / (p.est_a + p.est_b
                            - p.n_below / least(p.ta, p.tb)), 6)
                     AS est_jaccard,
                   round(abs((p.n_below / least(p.ta, p.tb))
                             / (p.est_a + p.est_b
                                - p.n_below / least(p.ta, p.tb))
                             - i.n_inter / (sa.n + sb.n - i.n_inter)), 6)
                     AS jaccard_abs_err
            FROM inter i
            JOIN sizes sa ON sa.event_type = i.ga
            JOIN sizes sb ON sb.event_type = i.gb
            JOIN prs p ON p.ga = i.ga AND p.gb = i.gb
        """,
        "kmv_distinct_merge": f"""
            WITH keyed AS (
              SELECT DISTINCT CAST(weekofyear(ts) AS INTEGER) AS week,
                     CAST(ts AS DATE) AS day,
                     md5('kmv:' || CAST(user_id AS VARCHAR)) AS hx
              FROM events
            ),
            daily AS (
              SELECT week, day, hx FROM (
                SELECT week, day, hx,
                       row_number() OVER (
                         PARTITION BY week, day ORDER BY hx) AS rk
                FROM keyed) WHERE rk <= 256
            ),
            mg AS (
              SELECT week, hx,
                     row_number() OVER (
                       PARTITION BY week ORDER BY hx) AS rk
              FROM (SELECT DISTINCT week, hx FROM daily)
            ),
            merged AS (SELECT * FROM mg WHERE rk <= 256),
            est AS (
              SELECT week, count(*) AS sketch_size,
                     max(CASE WHEN rk = 256
                         THEN ({_HEX8_SQL}) / 4294967296.0 END) AS uk
              FROM merged GROUP BY 1
            ),
            exact AS (
              SELECT week, count(*) AS n_exact
              FROM (SELECT DISTINCT CAST(weekofyear(ts) AS INTEGER)
                             AS week, user_id
                    FROM events) base0
              GROUP BY 1
            )
            SELECT e.week, x.n_exact, e.sketch_size,
                   CASE WHEN e.sketch_size < 256
                        THEN CAST(e.sketch_size AS DOUBLE)
                        ELSE 255.0 / e.uk END AS n_est,
                   round(abs((CASE WHEN e.sketch_size < 256
                              THEN CAST(e.sketch_size AS DOUBLE)
                              ELSE 255.0 / e.uk END) - x.n_exact)
                         / x.n_exact, 6) AS rel_err
            FROM est e JOIN exact x USING (week)
        """,
        "mixture_sampled_counts": f"""
            WITH {_url_domain_ctes()},
            per AS (
              SELECT reg_domain, count(*) AS n_docs,
                     CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 9)
                          AS DECIMAL(38,9)) AS sq
              FROM doms GROUP BY 1
            ),
            tot AS (
              SELECT sum(sq) AS tot_sq, sum(n_docs) AS tot_n FROM per
            ),
            rates AS (
              SELECT p.reg_domain,
                     round(least(1.0,
                       CAST(p.sq AS DOUBLE) / CAST(t.tot_sq AS DOUBLE)
                       * (CAST(t.tot_n AS DOUBLE) / 2.0)
                       / CAST(p.n_docs AS DOUBLE)), 6) AS rate,
                     CAST(floor(least(1.0,
                       CAST(p.sq AS DOUBLE) / CAST(t.tot_sq AS DOUBLE)
                       * (CAST(t.tot_n AS DOUBLE) / 2.0)
                       / CAST(p.n_docs AS DOUBLE))
                       * CAST(p.n_docs AS DOUBLE)) AS BIGINT)
                       AS expected_kept
              FROM per p CROSS JOIN tot t
            ),
            decided AS (
              SELECT d.reg_domain, r.expected_kept,
                     CASE WHEN ({_HEX8_SQL}) / 4294967296.0 < r.rate
                          THEN 1 ELSE 0 END AS kept
              FROM (SELECT doc_id, reg_domain,
                           md5('alpha' || CAST(doc_id AS VARCHAR)) AS hx
                    FROM doms) d
              JOIN rates r USING (reg_domain)
            )
            SELECT reg_domain, expected_kept, count(*) AS n_docs,
                   CAST(sum(kept) AS BIGINT) AS n_kept
            FROM decided GROUP BY 1, 2
        """,
        "domain_mixture_alpha": f"""
            WITH {_url_domain_ctes()},
            per AS (
              SELECT reg_domain, count(*) AS n_docs,
                     CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 9)
                          AS DECIMAL(38,9)) AS sq
              FROM doms GROUP BY 1
            ),
            tot AS (
              SELECT sum(sq) AS tot_sq, sum(n_docs) AS tot_n FROM per
            )
            SELECT p.reg_domain, p.n_docs,
                   round(CAST(p.n_docs AS DOUBLE)
                         / CAST(t.tot_n AS DOUBLE), 6) AS share_raw,
                   round(CAST(p.sq AS DOUBLE)
                         / CAST(t.tot_sq AS DOUBLE), 6) AS share_alpha,
                   round(least(1.0,
                     CAST(p.sq AS DOUBLE) / CAST(t.tot_sq AS DOUBLE)
                     * (CAST(t.tot_n AS DOUBLE) / 2.0)
                     / CAST(p.n_docs AS DOUBLE)), 6) AS rate,
                   CAST(floor(least(1.0,
                     CAST(p.sq AS DOUBLE) / CAST(t.tot_sq AS DOUBLE)
                     * (CAST(t.tot_n AS DOUBLE) / 2.0)
                     / CAST(p.n_docs AS DOUBLE))
                     * CAST(p.n_docs AS DOUBLE)) AS BIGINT)
                     AS expected_kept
            FROM per p CROSS JOIN tot t
        """,
        "repetition_stats": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t
                          FROM documents),
            w AS (
              SELECT doc_id, max(c) AS topw FROM (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
                GROUP BY 1, 2
              ) GROUP BY 1
            ),
            g2 AS (
              SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
              FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 2
            ),
            g3 AS (
              SELECT doc_id,
                     t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
              FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
              WHERE len(t) >= 3
            ),
            a2 AS (
              SELECT doc_id, sum(c) AS tot, count(*) AS dst,
                     max(c) AS top
              FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
              GROUP BY 1
            ),
            a3 AS (
              SELECT doc_id, sum(c) AS tot, count(*) AS dst
              FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
              GROUP BY 1
            ),
            stats AS (
              SELECT t.doc_id,
                     CAST(len(t.t) AS BIGINT) AS n_tokens,
                     CASE WHEN len(t.t) > 0
                          THEN round(CAST(w.topw AS DOUBLE) / len(t.t), 6)
                          ELSE 0.0 END AS top_word_frac,
                     CASE WHEN coalesce(a2.tot, 0) > 0
                          THEN round(CAST(a2.tot - a2.dst AS DOUBLE)
                                     / a2.tot, 6)
                          ELSE 0.0 END AS dup_2gram_frac,
                     CASE WHEN coalesce(a3.tot, 0) > 0
                          THEN round(CAST(a3.tot - a3.dst AS DOUBLE)
                                     / a3.tot, 6)
                          ELSE 0.0 END AS dup_3gram_frac,
                     CASE WHEN coalesce(a2.tot, 0) > 0
                          THEN round(CAST(a2.top AS DOUBLE) / a2.tot, 6)
                          ELSE 0.0 END AS top_2gram_frac
              FROM toks t
              LEFT JOIN w USING (doc_id)
              LEFT JOIN a2 USING (doc_id)
              LEFT JOIN a3 USING (doc_id)
            )
            SELECT *,
                   (top_word_frac <= 0.12 AND dup_2gram_frac <= 0.05
                    AND dup_3gram_frac <= 0.02) AS repetition_pass
            FROM stats
        """,
        "pq_codes_production": f"""
            WITH {_pq_encode_ctes(m=8, ksub=256, dsub=8)}
            SELECT c.vec_id,
                   array_to_string(list(c.code ORDER BY c.j), ',')
                     AS codes_s,
                   any_value(v.anorm) AS anorm
            FROM codes c JOIN vnorm v USING (vec_id)
            GROUP BY c.vec_id
        """,
        "ivf_pq_topk_refined": f"""
            WITH {_pq_oracle_ctes()},
            cent AS (
              SELECT vec_id AS centroid_id, emb AS cent_emb
              FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
            ),
            assign AS (
              SELECT e.vec_id, cent.centroid_id
              FROM e CROSS JOIN cent
              QUALIFY row_number() OVER (PARTITION BY e.vec_id
                ORDER BY {_cos_ab('cent_emb', 'emb')} DESC,
                         centroid_id ASC) = 1
            ),
            probes AS (
              SELECT q.query_id, cent.centroid_id
              FROM qv q CROSS JOIN cent
              QUALIFY row_number() OVER (PARTITION BY q.query_id
                ORDER BY {_cos_ab('cent_emb', 'q_emb')} DESC,
                         centroid_id ASC) <= 4
            ),
            cand AS (
              SELECT p.query_id, a.vec_id
              FROM assign a JOIN probes p USING (centroid_id)
              WHERE a.vec_id <> p.query_id
            ),
            short AS (
              SELECT query_id, vec_id FROM (
                SELECT c.query_id, c.vec_id,
                       row_number() OVER (
                         PARTITION BY c.query_id
                         ORDER BY pp.cos_r DESC, c.vec_id ASC) AS rn
                FROM cand c
                JOIN pq_pairs pp
                  ON pp.query_id = c.query_id AND pp.vec_id = c.vec_id
              ) WHERE rn <= 16
            ),
            rer AS (
              SELECT s.query_id, s.vec_id,
                     {_cos_ab('q.q_emb', 'c.emb')} AS cos_r
              FROM short s
              JOIN qv q USING (query_id)
              JOIN e c ON c.vec_id = s.vec_id
            )
            SELECT query_id, vec_id, cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
            FROM rer QUALIFY rank <= 3
        """,
        "url_suffix_mix_counts": f"""
            WITH {_url_domain_ctes()},
            sfx AS (
              SELECT doc_id,
                     regexp_replace(reg_domain, '^[^.]*[.]', '') AS suffix,
                     md5('urlmix' || CAST(doc_id AS VARCHAR)) AS hx
              FROM doms
            ),
            decided AS (
              SELECT suffix,
                     CASE WHEN ({_HEX8_SQL}) / 4294967296.0 <
                       (CASE {' '.join(f"WHEN suffix = '{k}' THEN {v!r}" for k, v in _URL_MIX_RATES.items())}
                             ELSE 0.0 END)
                     THEN 1 ELSE 0 END AS kept
              FROM sfx
            )
            SELECT suffix, count(*) AS n_docs,
                   CAST(sum(kept) AS BIGINT) AS n_kept,
                   round(CAST(sum(kept) AS DOUBLE) / count(*), 6)
                     AS achieved_rate
            FROM decided GROUP BY 1
        """,
        "redacted_cleaned_text": _redact_clean_oracle(10, 2),
        "tf_cosine_pairs": _tf_cosine_oracle(9, 10, 3),
        # tf_cosine_pairs_auto routes to the EXACT path on the
        # committed corpus at n=3 (probe verdict pinned in
        # tests/test_plans.py), so its oracle is the same unpruned
        # brute force — the near_dup_pairs_auto precedent
        "tf_cosine_pairs_auto": _tf_cosine_oracle(9, 10, 3),
        "cluster_size_histogram": _cluster_size_histogram_oracle(),
        "value_histogram": """
            SELECT event_type,
                   CAST(floor(value / 50.0) * 50 AS BIGINT) AS bucket_lo,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "geohash_cells": f"""
            SELECT {_geohash_cells_sql()} AS cell, count(*) AS n
            FROM events GROUP BY 1
        """,
        "hourly_type_share": """
            WITH hourly AS (
              SELECT date_trunc('hour', ts) AS hour, event_type,
                     count(*) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT hour, event_type, n,
                   CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY hour) AS share
            FROM hourly
        """,
        "large_volume_customers": """
            WITH big AS (
              SELECT l_orderkey,
                     round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, sum_qty
            FROM big
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE sum_qty > 300
        """,
        "first_last_region_per_day": f"""
            SELECT user_id, day, first_region, last_region,
                   (first_region <> last_region) AS moved
            FROM (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
                     first_value(CAST({REGION_SQL} AS INTEGER)) OVER w AS first_region,
                     last_value(CAST({REGION_SQL} AS INTEGER)) OVER w AS last_region
              FROM events
              WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                           ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ) t
        """,
        "dense_hourly_occupancy": f"""
            WITH occ AS (
              SELECT CAST({REGION_SQL} AS INTEGER) AS region_id,
                     date_trunc('hour', ts) AS hour,
                     count(DISTINCT user_id) AS n_users
              FROM events GROUP BY 1, 2
            ),
            span AS (
              SELECT min(date_trunc('hour', ts)) AS h0,
                     max(date_trunc('hour', ts)) AS h1
              FROM events
            ),
            hours AS (
              SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
              FROM span
            ),
            regions AS (
              SELECT CAST(unnest(generate_series(1, {N_REGIONS})) AS INTEGER) AS region_id
            )
            SELECT r.region_id, h.hour,
                   CAST(coalesce(o.n_users, 0) AS BIGINT) AS n_users
            FROM hours h
            CROSS JOIN regions r
            LEFT JOIN occ o ON o.region_id = r.region_id AND o.hour = h.hour
        """,
        "sliding_window_counts": """
            WITH w AS (
              SELECT event_type,
                     unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                             date_trunc('hour', ts)]) AS win_start
              FROM events
            )
            SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end,
                   event_type, count(*) AS n
            FROM w GROUP BY 1, 2, 3
        """,
        "corpus_curation": _curation_oracle(),
        "benchmark_decontam": """
            WITH words AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            grams AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(generate_series(1, len(w) - 7),
                                           i -> array_to_string(w[i:i+7], ' '))) AS gram
              FROM words
              WHERE len(w) >= 8
            ),
            bench AS (
              SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0
            )
            SELECT c.doc_id,
                   count(*) AS n_grams,
                   count(b.gram) AS n_hit,
                   round(CAST(count(b.gram) AS DOUBLE) / count(*), 9) AS hit_frac,
                   (count(b.gram) * 10 >= count(*) * 1) AS contaminated
            FROM grams c LEFT JOIN bench b USING (gram)
            WHERE c.doc_id % 50 <> 0
            GROUP BY 1
        """,
        "dup_passage_stats": """
            WITH words AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            blocks AS (
              SELECT doc_id, md5(gram) AS digest FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(w) - 9, 10),
                                             i -> array_to_string(w[i:i+9], ' '))) AS gram
                FROM words WHERE len(w) >= 10
              )
            ),
            dfreq AS (
              SELECT digest, count(DISTINCT doc_id) AS doc_freq
              FROM blocks GROUP BY 1
            )
            SELECT b.doc_id,
                   count(*) AS n_blocks,
                   CAST(sum(CASE WHEN f.doc_freq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup_blocks,
                   round(CAST(sum(CASE WHEN f.doc_freq >= 2 THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 6) AS dup_frac
            FROM blocks b JOIN dfreq f USING (digest)
            GROUP BY 1
        """,
        "sequence_packing": f"""
            WITH t AS (
              SELECT doc_id, len({_TOKENS_SQL}) AS n_tokens FROM documents
            ),
            packed AS (
              SELECT CAST(doc_id % 32 AS INTEGER) AS shard, n_tokens,
                     CAST(floor(coalesce(sum(n_tokens) OVER (
                         PARTITION BY doc_id % 32 ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) / 512) AS INTEGER) AS bin
              FROM t
            )
            SELECT shard, bin, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens
            FROM packed GROUP BY 1, 2
        """,
        "domain_mix_counts": f"""
            WITH h AS (
              SELECT source,
                     md5('mix' || CAST(doc_id AS VARCHAR)) AS hx
              FROM documents
            ),
            decided AS (
              SELECT source,
                     CASE WHEN ({_HEX8_SQL}) / 4294967296.0 <
                       (CASE {' '.join(f"WHEN source = '{k}' THEN {v!r}" for k, v in _MIX_RATES.items())}
                             ELSE 0.0 END)
                     THEN 1 ELSE 0 END AS kept
              FROM h
            )
            SELECT source, count(*) AS n_docs,
                   CAST(sum(kept) AS BIGINT) AS n_kept,
                   round(CAST(sum(kept) AS DOUBLE) / count(*), 6) AS achieved_rate
            FROM decided GROUP BY 1
        """,
        "props_map_explode": """
            SELECT k.key AS key,
                   CAST(sum(CAST(props->>k.key AS BIGINT)) AS BIGINT) AS v_sum,
                   count(*) AS n
            FROM events, unnest(json_keys(props)) AS k(key)
            GROUP BY 1
        """,
        "rolling_hash_fingerprint": """
            WITH h AS (
              SELECT doc_id,
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform(generate_series(1, length(text)),
                                        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
                       (acc, c) -> (acc * 131 + c) % 1000000007) AS rh
              FROM documents
            )
            SELECT rh, min(doc_id) AS canonical_id, count(*) AS n_docs
            FROM h GROUP BY rh
        """,
        "bpe_token_count": f"""
            SELECT doc_id,
                   CAST(len({_TOKENS_SQL}) AS INTEGER) AS ws_tokens,
                   CAST(len(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\\s]+')) AS INTEGER) AS bpe_tokens
            FROM documents
        """,
        "tfidf_search": """
            WITH toks AS (
              SELECT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              t -> t <> '')) AS tok
                FROM documents
              ) WHERE tok IN ('merge', 'spark', 'window')
            ),
            nn AS (SELECT count(*) AS n FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
            df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
            per_term AS (
              SELECT doc_id,
                     sum(CASE WHEN tok = 'merge' THEN CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) END) AS w_merge,
                     sum(CASE WHEN tok = 'spark' THEN CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) END) AS w_spark,
                     sum(CASE WHEN tok = 'window' THEN CAST(tf AS DOUBLE) * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) END) AS w_window
              FROM tf JOIN df USING (tok) CROSS JOIN nn
              GROUP BY doc_id
            )
            SELECT doc_id,
                   round(coalesce(w_merge, 0.0) + coalesce(w_spark, 0.0)
                         + coalesce(w_window, 0.0), 6) AS score
            FROM per_term
            ORDER BY score DESC, doc_id ASC
            LIMIT 10
        """,
        "stay_segments": f"""
            WITH {POSITIONS_CTE},
            isl AS (
              SELECT user_id, region_id, hour,
                     CAST(epoch(hour) AS BIGINT) // 3600
                       - row_number() OVER (
                           PARTITION BY user_id, region_id ORDER BY hour)
                       AS island
              FROM pos
            )
            SELECT user_id, region_id,
                   min(hour) AS stay_start, max(hour) AS stay_end,
                   count(*) AS n_hours
            FROM isl GROUP BY user_id, region_id, island
        """,
        "dwell_stats": f"""
            WITH {POSITIONS_CTE},
            isl AS (
              SELECT user_id, region_id, hour,
                     CAST(epoch(hour) AS BIGINT) // 3600
                       - row_number() OVER (
                           PARTITION BY user_id, region_id ORDER BY hour)
                       AS island
              FROM pos
            ),
            stays AS (
              SELECT user_id, region_id, count(*) AS n_hours
              FROM isl GROUP BY user_id, region_id, island
            )
            SELECT region_id, count(*) AS n_stays,
                   CAST(sum(n_hours) AS DOUBLE) / count(*) AS avg_stay_h,
                   max(n_hours) AS max_stay_h
            FROM stays GROUP BY region_id
        """,
        "occupancy_fine_grid": """
            SELECT CAST((CAST(round(value * 100, 0) AS BIGINT) % 356) + 1 AS INTEGER) AS region_id,
                   date_trunc('hour', ts) AS hour,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "next_event_latency": """
            WITH g AS (
              SELECT event_type,
                     date_diff('second', ts,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC)) AS gap_s
              FROM events
            )
            SELECT event_type, count(*) AS n,
                   CAST(sum(gap_s) AS DOUBLE) / count(*) AS avg_gap_s,
                   max(gap_s) AS max_gap_s
            FROM g WHERE gap_s IS NOT NULL
            GROUP BY event_type
        """,
        "rolling_weekly_revenue": """
            SELECT o_custkey, o_orderkey,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                     PARTITION BY o_custkey
                     ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                     RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
                   AS rolling_7d
            FROM orders
        """,
        "grouping_sets_status": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """,
        "above_nation_avg_customers": """
            WITH stats AS (
              SELECT c_nationkey AS nk,
                     sum(CAST(c_acctbal AS DECIMAL(18,4))) AS total,
                     count(*) AS n
              FROM customer GROUP BY c_nationkey
            )
            SELECT c_nationkey, count(*) AS n_above
            FROM customer JOIN stats ON c_nationkey = nk
            WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n > total
            GROUP BY c_nationkey
        """,
        # batch 3 — sequence analytics / corpus rarity / skew
        "click_purchase_funnel": """
            WITH nxt AS (
              SELECT ts, event_type,
                     min(CASE WHEN event_type = 'purchase' THEN ts END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts DESC, event_id DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS next_purchase_ts
              FROM events
            )
            SELECT CAST(ts AS DATE) AS day,
                   count(*) AS n_from,
                   CAST(sum(CASE WHEN next_purchase_ts IS NOT NULL
                                  AND next_purchase_ts <= ts + INTERVAL 3600 SECOND
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                   CAST(sum(CASE WHEN next_purchase_ts IS NOT NULL
                                  AND next_purchase_ts <= ts + INTERVAL 3600 SECOND
                             THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS conv_rate
            FROM nxt
            WHERE event_type = 'click'
            GROUP BY 1
        """,
        "rare_token_stats": f"""
            WITH types AS (
              SELECT DISTINCT doc_id, unnest({_TOKENS_SQL}) AS tok
              FROM documents
            ),
            df AS (SELECT tok, count(*) AS df FROM types GROUP BY tok),
            nd AS (SELECT count(*) AS nd FROM documents)
            SELECT doc_id,
                   count(*) AS n_types,
                   CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_hapax,
                   CAST(sum(CASE WHEN df * 10 < nd THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_rare,
                   CAST(sum(df) AS DOUBLE) / count(*) AS mean_df
            FROM types JOIN df USING (tok) CROSS JOIN nd
            GROUP BY doc_id
        """,
        "salted_type_counts": f"""
            SELECT CASE WHEN (((CAST(floor(value) AS BIGINT) % {N_REGIONS})
                               + {N_REGIONS}) % {N_REGIONS}) < 15
                        THEN 0
                        ELSE CAST((((CAST(floor(value) AS BIGINT) % {N_REGIONS})
                                    + {N_REGIONS}) % {N_REGIONS}) AS INTEGER)
                   END AS hot_key,
                   count(*) AS cnt
            FROM events
            GROUP BY 1
        """,
        "region_pagerank": _pagerank_oracle(),
        "region_triangles": _triangles_oracle(),
        "clustering_coefficient": _cc_oracle(),
        "embedding_principal_component": _pca_oracle(),
        "region_hits": _hits_oracle(),
        "graph_summary_stats": (
            "WITH "
            + EDGES_CTE
            + """,
            dir_e AS (
              SELECT DISTINCT pre_region_id AS src, region_id AS dst
              FROM edges WHERE pre_region_id <> region_id
            ),
            und AS (
              SELECT DISTINCT least(src, dst) AS u,
                     greatest(src, dst) AS v
              FROM dir_e
            ),
            deg AS (
              SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM und UNION ALL SELECT v FROM und
              ) GROUP BY node
            ),
            mom AS (
              SELECT count(*) AS m,
                     CAST(sum(du.deg) AS BIGINT) AS sx,
                     CAST(sum(dv.deg) AS BIGINT) AS sy,
                     CAST(sum(du.deg * dv.deg) AS BIGINT) AS sxy,
                     CAST(sum(du.deg * du.deg) AS BIGINT) AS sxx,
                     CAST(sum(dv.deg * dv.deg) AS BIGINT) AS syy
              FROM und
              JOIN deg du ON du.node = und.u
              JOIN deg dv ON dv.node = und.v
            ),
            scal AS (
              SELECT (SELECT count(*) FROM deg) AS n_nodes,
                     (SELECT count(*) FROM dir_e) AS n_dir,
                     (SELECT count(*) FROM dir_e a
                      WHERE EXISTS (SELECT 1 FROM dir_e b
                        WHERE b.src = a.dst AND b.dst = a.src))
                       AS n_recip
            )
            SELECT CAST(s.n_nodes AS BIGINT) AS n_nodes,
                   CAST(s.n_dir AS BIGINT) AS n_directed_edges,
                   CAST(s.n_dir AS DOUBLE)
                   / CAST(GREATEST(s.n_nodes * (s.n_nodes - 1), 1)
                          AS DOUBLE) AS density,
                   CAST(s.n_recip AS DOUBLE)
                   / CAST(GREATEST(s.n_dir, 1) AS DOUBLE) AS reciprocity,
                   CASE WHEN CAST(m.m * m.sxx - m.sx * m.sx AS DOUBLE) > 0
                         AND CAST(m.m * m.syy - m.sy * m.sy AS DOUBLE) > 0
                        THEN CAST(m.m * m.sxy - m.sx * m.sy AS DOUBLE)
                          / (sqrt(CAST(m.m * m.sxx - m.sx * m.sx
                                       AS DOUBLE))
                             * sqrt(CAST(m.m * m.syy - m.sy * m.sy
                                         AS DOUBLE)))
                        ELSE NULL END AS assortativity
            FROM mom m CROSS JOIN scal s
        """
        ),
        "span_corruption_pairs": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
            ),
            raw AS (
            SELECT doc_id,
                   CAST(len(t) AS INTEGER) AS n_tokens,
                   CAST(len(list_filter(generate_series(1, len(t)),
                     i -> (((strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 8, 1)) - 1) * 1) % 10) < 2)) AS INTEGER) AS n_masked,
                   array_to_string(list_filter(
                     list_transform(generate_series(1, len(t)), i ->
                       CASE WHEN NOT ((((strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 8, 1)) - 1) * 1) % 10) < 2) THEN t[i]
                            WHEN i = 1 OR NOT ((((strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 8, 1)) - 1) * 1) % 10) < 2) THEN '<X>'
                            ELSE NULL END),
                     x -> x IS NOT NULL), ' ') AS input_text_raw,
                   array_to_string(list_filter(
                     list_transform(generate_series(1, len(t)), i ->
                       CASE WHEN ((((strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 8, 1)) - 1) * 1) % 10) < 2) AND (i = 1 OR NOT ((((strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 8, 1)) - 1) * 1) % 10) < 2))
                            THEN concat('<X> ', t[i])
                            WHEN ((((strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 8, 1)) - 1) * 1) % 10) < 2) THEN t[i]
                            ELSE NULL END),
                     x -> x IS NOT NULL), ' ') AS target_text_raw
            FROM toks WHERE len(t) >= 1
            )
            SELECT doc_id, n_tokens, n_masked,
                   coalesce(input_text_raw, '') AS input_text,
                   coalesce(target_text_raw, '') AS target_text
            FROM raw
        """,
        "quantized_cosine_topk": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
            ),
            m AS (
              SELECT vec_id, emb,
                     list_reduce(list_transform(emb, x -> abs(x)),
                                 (p, q) -> greatest(p, q)) AS amax
              FROM e
            ),
            qz AS (
              SELECT vec_id,
                     CASE WHEN amax = 0
                          THEN list_transform(emb, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(emb, x ->
                                 greatest(CAST(-127 AS BIGINT),
                                   least(CAST(127 AS BIGINT),
                                     CAST(round(x / (amax / 127.0)) AS BIGINT))))
                     END AS q8
              FROM m
            ),
            q AS (
              SELECT vec_id AS query_id, q8 AS q8_q FROM qz WHERE vec_id < 5
            ),
            pairs AS (
              SELECT q.query_id, c.vec_id,
                     round(
                       CAST(list_reduce(
                              list_transform(generate_series(1, len(q8_q)),
                                             i -> q8_q[i] * c.q8[i]),
                              (a, b) -> a + b) AS DOUBLE)
                       / (sqrt(CAST(list_reduce(
                                list_transform(generate_series(1, len(q8_q)),
                                               i -> q8_q[i] * q8_q[i]),
                                (a, b) -> a + b) AS DOUBLE))
                          * sqrt(CAST(list_reduce(
                                list_transform(generate_series(1, len(c.q8)),
                                               i -> c.q8[i] * c.q8[i]),
                                (a, b) -> a + b) AS DOUBLE))),
                       6) AS cos_r
              FROM qz c, q WHERE c.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, cos_r,
                   CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_r DESC, vec_id ASC) AS INTEGER) AS rank
            FROM pairs QUALIFY rank <= 3
        """,
        # ---- batch 4: quality / sampling / cohorts / sequences / graph / ML
        "data_quality_profile": f"""
            WITH w AS (
              SELECT count(*) AS n,
                     count(event_id) AS nn_event_id,
                     count(ts) AS nn_ts,
                     count(user_id) AS nn_user_id,
                     count(event_type) AS nn_event_type,
                     count(value) AS nn_value,
                     count(props) AS nn_props,
                     count(DISTINCT user_id) AS nd_user_id,
                     count(DISTINCT event_type) AS nd_event_type,
                     CAST(min(value) AS DOUBLE) AS min_value,
                     CAST(max(value) AS DOUBLE) AS max_value,
                     floor(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                           / CAST(count(value) AS DOUBLE)
                           * {10**MEAN_ROUND}.0 + 0.5)
                     / {10**MEAN_ROUND}.0 AS mean_value
              FROM events
            )
            SELECT '*' AS col_name, 'n_rows' AS metric,
                   CAST(n AS DOUBLE) AS value FROM w
            UNION ALL SELECT 'event_id', 'completeness',
                   CAST(nn_event_id AS DOUBLE) / CAST(n AS DOUBLE) FROM w
            UNION ALL SELECT 'ts', 'completeness',
                   CAST(nn_ts AS DOUBLE) / CAST(n AS DOUBLE) FROM w
            UNION ALL SELECT 'user_id', 'completeness',
                   CAST(nn_user_id AS DOUBLE) / CAST(n AS DOUBLE) FROM w
            UNION ALL SELECT 'event_type', 'completeness',
                   CAST(nn_event_type AS DOUBLE) / CAST(n AS DOUBLE) FROM w
            UNION ALL SELECT 'value', 'completeness',
                   CAST(nn_value AS DOUBLE) / CAST(n AS DOUBLE) FROM w
            UNION ALL SELECT 'props', 'completeness',
                   CAST(nn_props AS DOUBLE) / CAST(n AS DOUBLE) FROM w
            UNION ALL SELECT 'user_id', 'n_distinct',
                   CAST(nd_user_id AS DOUBLE) FROM w
            UNION ALL SELECT 'event_type', 'n_distinct',
                   CAST(nd_event_type AS DOUBLE) FROM w
            UNION ALL SELECT 'value', 'min', min_value FROM w
            UNION ALL SELECT 'value', 'max', max_value FROM w
            UNION ALL SELECT 'value', 'mean', mean_value FROM w
        """,
        "weighted_doc_sample": f"""
            WITH h AS (
              SELECT doc_id, source, n_chars,
                     md5('wsample' || CAST(doc_id AS VARCHAR)) AS hx
              FROM documents
            )
            SELECT doc_id, source, n_chars FROM h
            WHERE ({_HEX8_SQL}) / 4294967296.0
                  < least(1.0, CAST(n_chars AS DOUBLE) / 400.0)
        """,
        "cohort_retention": """
            WITH aw AS (
              SELECT DISTINCT user_id AS u,
                     CAST(date_trunc('week', ts) AS DATE) AS act_week
              FROM events
            ),
            fw AS (
              SELECT u, min(act_week) AS cohort_week FROM aw GROUP BY u
            ),
            j AS (
              SELECT a.u, f.cohort_week,
                     CAST(date_diff('day', f.cohort_week, a.act_week) / 7
                          AS INTEGER) AS week_offset
              FROM aw a JOIN fw f USING (u)
            ),
            counts AS (
              SELECT cohort_week, week_offset,
                     count(DISTINCT u) AS n_active
              FROM j GROUP BY 1, 2
            )
            SELECT c.cohort_week, c.week_offset, c.n_active,
                   CAST(c.n_active AS DOUBLE) / CAST(b.n_active AS DOUBLE)
                     AS retention
            FROM counts c
            JOIN (SELECT cohort_week, n_active FROM counts
                  WHERE week_offset = 0) b USING (cohort_week)
        """,
        "event_transition_matrix": """
            WITH seq AS (
              SELECT user_id,
                     lag(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) AS prev_type,
                     event_type AS next_type
              FROM events
            ),
            pairs AS (
              SELECT prev_type, next_type, count(*) AS n
              FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
            )
            SELECT prev_type, next_type, n,
                   CAST(n AS DOUBLE)
                   / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE)
                     AS share
            FROM pairs
        """,
        "region_communities": _lpa_oracle(),
        "region_bfs_hops": _bfs_oracle(),
        "shuffle_order": """
            SELECT doc_id,
                   CAST(row_number() OVER (
                     ORDER BY md5('epoch0' || CAST(doc_id AS VARCHAR)) ASC,
                              doc_id ASC) AS INTEGER) AS shuffle_rank
            FROM documents
        """,
        "split_leakage_pairs": _split_leakage_oracle(),
        "collocations_lift": f"""
            WITH toks AS (
              SELECT {_TOKENS_SQL} AS t FROM documents
            ),
            bigrams AS (
              SELECT t[i] AS w1, t[i + 1] AS w2
              FROM (
                SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM toks WHERE len(t) >= 2
              )
            ),
            bg AS (
              SELECT w1, w2, count(*) AS n_xy
              FROM bigrams GROUP BY 1, 2
            ),
            uni AS (
              SELECT w, count(*) AS n_w FROM (
                SELECT unnest(t) AS w FROM toks
              ) GROUP BY 1
            ),
            nt AS (SELECT count(*) AS n FROM bigrams)
            SELECT b.w1, b.w2, b.n_xy,
                   CAST(b.n_xy * nt.n AS DOUBLE)
                   / CAST(u1.n_w * u2.n_w AS DOUBLE) AS lift
            FROM bg b
            JOIN uni u1 ON u1.w = b.w1
            JOIN uni u2 ON u2.w = b.w2
            CROSS JOIN nt
            WHERE b.n_xy >= 5
            ORDER BY lift DESC, b.w1 ASC, b.w2 ASC LIMIT 20
        """,
        "user_covisit_jaccard": """
            WITH sets AS (
              SELECT DISTINCT user_id,
                     (((CAST(floor(value) AS BIGINT) % 2000) + 2000)
                      % 2000) AS cell
              FROM events
            ),
            sizes AS (
              SELECT user_id, count(*) AS sz FROM sets GROUP BY 1
            ),
            inter AS (
              SELECT a.user_id AS u1, b.user_id AS u2,
                     count(*) AS n_shared
              FROM sets a
              JOIN sets b ON a.cell = b.cell
                         AND a.user_id < b.user_id
              GROUP BY 1, 2
            )
            SELECT u1, u2, n_shared,
                   CAST(n_shared AS DOUBLE)
                   / CAST(s1.sz + s2.sz - n_shared AS DOUBLE) AS jacc
            FROM inter
            JOIN sizes s1 ON s1.user_id = u1
            JOIN sizes s2 ON s2.user_id = u2
            WHERE n_shared * 10 >= (s1.sz + s2.sz - n_shared) * 3
        """,
        "round_trip_users": (
            "WITH "
            + POSITIONS_CTE
            + """,
            mv AS (
              SELECT user_id, hour, region_id FROM (
                SELECT user_id, hour, region_id,
                       lag(region_id) OVER (
                         PARTITION BY user_id ORDER BY hour) AS prev_r
                FROM pos
              ) WHERE prev_r IS NULL OR prev_r <> region_id
            ),
            pat AS (
              SELECT DISTINCT CAST(hour AS DATE) AS day, user_id FROM (
                SELECT user_id, hour, region_id,
                       lag(region_id, 2) OVER w AS r1,
                       lag(region_id, 1) OVER w AS r2
                FROM mv
                WINDOW w AS (PARTITION BY user_id ORDER BY hour)
              ) WHERE r1 = region_id AND r2 <> region_id
            )
            SELECT day, count(*) AS n_round_trip_users
            FROM pat GROUP BY day
        """
        ),
        "kmeans_embeddings": _kmeans_oracle(),
        "ivf_topk_kmeans": _ivf_kmeans_oracle(),
        "semantic_dedup_kmeans": _semantic_dedup_kmeans_oracle(),
        # ---- batch 6 (round 5) ----
        "od_two_hop": (
            "WITH "
            + EDGES_CTE
            + """,
            tot AS (
              SELECT pre_region_id AS orig, region_id AS dest,
                     count(*) AS w
              FROM edges WHERE pre_region_id <> region_id
              GROUP BY 1, 2
            )
            SELECT a.orig AS o, b.dest AS d,
                   CAST(sum(a.w * b.w) AS BIGINT) AS flow2
            FROM tot a JOIN tot b ON a.dest = b.orig
            GROUP BY 1, 2
        """
        ),
        "mad_value_anomaly": """
            WITH ev AS (
              SELECT event_type, value, event_id FROM events
              WHERE value IS NOT NULL
            ),
            ranked AS (
              SELECT event_type, value, event_id,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY value, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM ev
            ),
            med AS (
              SELECT event_type, n, avg(value) AS med
              FROM ranked
              WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
              GROUP BY 1, 2
            ),
            dev AS (
              SELECT e.event_type, e.value, e.event_id, m.n, m.med,
                     abs(e.value - m.med) AS dev
              FROM ev e JOIN med m USING (event_type)
            ),
            mad AS (
              SELECT event_type, avg(dev) AS mad FROM (
                SELECT event_type, dev, n,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY dev, event_id) AS rn
                FROM dev
              ) WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
              GROUP BY 1
            )
            SELECT d.event_type, d.n, d.med, a.mad,
                   CAST(sum(CASE WHEN d.dev > 3.0 * a.mad
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
            FROM dev d JOIN mad a USING (event_type)
            GROUP BY 1, 2, 3, 4
        """,
        "cusum_changepoint": """
            WITH base AS (
              SELECT event_type, ts, event_id,
                     CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v6
              FROM events WHERE value IS NOT NULL
            ),
            stats AS (
              SELECT event_type,
                     CAST(floor(CAST(sum(v6) AS DOUBLE)
                                / CAST(count(*) AS DOUBLE)) AS BIGINT)
                       AS mu6,
                     count(*) AS n
              FROM base GROUP BY 1
            ),
            cus AS (
              SELECT b.event_type, b.ts, b.event_id, s.n,
                     sum(b.v6 - s.mu6) OVER (
                       PARTITION BY b.event_type
                       ORDER BY b.ts, b.event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cusum6
              FROM base b JOIN stats s USING (event_type)
            )
            SELECT event_type, n, ts AS change_ts, event_id,
                   CAST(abs(cusum6) AS DOUBLE) / 1000000.0 AS peak_dev
            FROM cus
            QUALIFY row_number() OVER (PARTITION BY event_type
              ORDER BY abs(cusum6) DESC, ts ASC, event_id ASC) = 1
        """,
        "seasonal_hod_index": """
            WITH ev AS (
              SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
                     value
              FROM events
              WHERE value IS NOT NULL
            ),
            hodm AS (
              SELECT event_type, hod, count(*) AS n,
                     floor(CAST(sum(CAST(value AS DECIMAL(28,6)))
                                AS DOUBLE)
                           / CAST(count(*) AS DOUBLE)
                           * 1000000.0 + 0.5) / 1000000.0 AS hod_mean
              FROM ev GROUP BY 1, 2
            ),
            typm AS (
              SELECT event_type,
                     floor(CAST(sum(CAST(value AS DECIMAL(28,6)))
                                AS DOUBLE)
                           / CAST(count(*) AS DOUBLE)
                           * 1000000.0 + 0.5) / 1000000.0 AS type_mean
              FROM ev GROUP BY 1
            )
            SELECT h.event_type, h.hod, h.n, h.hod_mean,
                   h.hod_mean / t.type_mean AS seasonal_idx
            FROM hodm h JOIN typm t USING (event_type)
        """,
        "basket_pairs": """
            WITH basket AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
                     event_type
              FROM events
            ),
            nb AS (
              SELECT count(*) AS n_baskets FROM (
                SELECT DISTINCT user_id, day FROM basket
              )
            ),
            item_n AS (
              SELECT event_type, count(*) AS n_item
              FROM basket GROUP BY 1
            ),
            pairs AS (
              SELECT a.event_type AS t1, b.event_type AS t2,
                     count(*) AS support
              FROM basket a
              JOIN basket b ON a.user_id = b.user_id AND a.day = b.day
                           AND a.event_type < b.event_type
              GROUP BY 1, 2
              HAVING count(*) >= 5
            )
            SELECT p.t1, p.t2, p.support,
                   CAST(p.support * nb.n_baskets AS DOUBLE)
                   / CAST(i1.n_item * i2.n_item AS DOUBLE) AS lift
            FROM pairs p
            JOIN item_n i1 ON i1.event_type = p.t1
            JOIN item_n i2 ON i2.event_type = p.t2
            CROSS JOIN nb
        """,
        "region_kcore": _kcore_oracle(),
        "event_stay_range_join": f"""
            WITH {POSITIONS_CTE},
            isl AS (
              SELECT user_id, region_id, hour,
                     CAST(epoch(hour) AS BIGINT) // 3600
                       - row_number() OVER (
                           PARTITION BY user_id, region_id ORDER BY hour)
                       AS island
              FROM pos
            ),
            segs AS (
              SELECT user_id, region_id,
                     min(hour) AS stay_start, max(hour) AS stay_end
              FROM isl GROUP BY user_id, region_id, island
            ),
            ev AS (
              SELECT user_id, date_trunc('hour', ts) AS t FROM events
            )
            SELECT s.user_id, s.region_id, s.stay_start, s.stay_end,
                   count(*) AS n_events
            FROM segs s
            JOIN ev e ON e.user_id = s.user_id
                     AND e.t BETWEEN s.stay_start AND s.stay_end
            GROUP BY 1, 2, 3, 4
        """,
        "levenshtein_near_keys": """
            SELECT a.p_brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
                   a.p_name AS name_a, b.p_name AS name_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS INTEGER)
                     AS dist
            FROM part a
            JOIN part b ON a.p_brand = b.p_brand
                       AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 2
        """,
        "bm25_search": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
            ),
            dl AS (
              SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
            ),
            na AS (
              SELECT count(*) AS n,
                     floor(CAST(sum(dl) AS DOUBLE)
                           / CAST(count(*) AS DOUBLE)
                           * 1000000.0 + 0.5) / 1000000.0 AS avgdl
              FROM dl
            ),
            tf AS (
              SELECT doc_id, tok, count(*) AS tf FROM toks
              WHERE tok IN ('merge', 'spark', 'window') GROUP BY 1, 2
            ),
            df AS (
              SELECT tok, count(DISTINCT doc_id) AS df FROM toks
              WHERE tok IN ('merge', 'spark', 'window') GROUP BY 1
            ),
            w AS (
              SELECT t.doc_id, t.tok,
                     ln(1.0 + (CAST(na.n AS DOUBLE) - CAST(df.df AS DOUBLE)
                               + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
                     * CAST(t.tf AS DOUBLE) * 2.2
                     / (CAST(t.tf AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                                 / na.avgdl)) AS w
              FROM tf t
              JOIN df USING (tok)
              JOIN dl ON dl.doc_id = t.doc_id
              CROSS JOIN na
            ),
            piv AS (
              SELECT doc_id,
                     sum(CASE WHEN tok = 'merge' THEN w END) AS w_merge,
                     sum(CASE WHEN tok = 'spark' THEN w END) AS w_spark,
                     sum(CASE WHEN tok = 'window' THEN w END) AS w_window
              FROM w GROUP BY doc_id
            )
            SELECT doc_id,
                   round(coalesce(w_merge, 0.0) + coalesce(w_spark, 0.0)
                         + coalesce(w_window, 0.0), 6) AS score
            FROM piv
            ORDER BY score DESC, doc_id ASC LIMIT 10
        """,
        "longest_streaks": """
            WITH isl AS (
              SELECT user_id, event_type, ts, event_id,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id)
                     - row_number() OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS island
              FROM events
            ),
            runs AS (
              SELECT user_id, event_type, island,
                     count(*) AS len, min(ts) AS streak_start
              FROM isl GROUP BY 1, 2, 3
            )
            SELECT user_id, event_type, CAST(len AS BIGINT) AS len,
                   streak_start
            FROM runs
            QUALIFY row_number() OVER (PARTITION BY user_id
              ORDER BY len DESC, event_type ASC, streak_start ASC) = 1
        """,
        "rolling_7d_active_users": """
            WITH act AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
              FROM events
            ),
            days AS (SELECT DISTINCT day FROM act)
            SELECT d.day, count(DISTINCT a.user_id) AS active_7d
            FROM days d
            JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
            GROUP BY d.day
        """,
        "time_to_conversion": """
            SELECT user_id, event_id, ts,
                   CAST(floor(epoch(np_ts)) - floor(epoch(ts)) AS BIGINT)
                     AS secs_to_purchase
            FROM (
              SELECT user_id, event_id, ts, event_type,
                     min(CASE WHEN event_type = 'purchase'
                          THEN struct_pack(ts := ts, event_id := event_id)
                          END) OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ).ts AS np_ts
              FROM events
            ) WHERE event_type = 'click'
        """,
        "first_touch_attribution": """
            SELECT user_id, event_id AS purchase_event_id,
                   ts AS purchase_ts, fc_ts AS first_click_ts,
                   CAST(floor(epoch(ts)) - floor(epoch(fc_ts)) AS BIGINT) AS latency_s
            FROM (
              SELECT user_id, event_id, ts, event_type,
                     min(CASE WHEN event_type = 'click'
                          THEN struct_pack(ts := ts, event_id := event_id)
                          END) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                       RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
                     ).ts AS fc_ts
              FROM events
            ) WHERE event_type = 'purchase'
        """,
        "quantile_normalize_embeddings": """
            WITH cells AS (
              SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS pos,
                     CAST(embedding[g.i] AS DOUBLE) AS x
              FROM embeddings
              CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) g
            )
            SELECT vec_id, pos,
                   (CAST(row_number() OVER (PARTITION BY pos
                      ORDER BY x, vec_id) AS DOUBLE) - 0.5)
                   / CAST(count(*) OVER (PARTITION BY pos) AS DOUBLE)
                     AS q
            FROM cells
        """,
            "random_walk_corpus": (
            "WITH "
            + EDGES_CTE
            + f""",
            tot AS (
              SELECT pre_region_id AS orig, region_id AS dest,
                     count(*) AS w
              FROM edges GROUP BY 1, 2
            ),
            sparse AS (
              SELECT src, dst FROM (
                SELECT orig AS src, dest AS dst, w,
                       row_number() OVER (PARTITION BY orig
                         ORDER BY w DESC, dest ASC) AS rk
                FROM tot WHERE orig <> dest
              ) WHERE rk <= 3
            ),
            redges AS MATERIALIZED (
              SELECT src, dst,
                     row_number() OVER (PARTITION BY src ORDER BY dst)
                       AS rn,
                     count(*) OVER (PARTITION BY src) AS deg
              FROM sparse
            ),
            w0 AS MATERIALIZED (
              SELECT DISTINCT src AS start, 0 AS step, src AS node
              FROM redges
            ),
            w1 AS MATERIALIZED (
              SELECT w.start, 1 AS step, e.dst AS node
              FROM (
                SELECT start, node,
                       md5('walk:' || CAST(start AS VARCHAR) || ':1:'
                           || CAST(node AS VARCHAR)) AS hx
                FROM w0
              ) w
              JOIN redges e
                ON e.src = w.node
               AND e.rn = 1 + (({_HEX8_SQL}) % e.deg)
            ),
            w2 AS MATERIALIZED (
              SELECT w.start, 2 AS step, e.dst AS node
              FROM (
                SELECT start, node,
                       md5('walk:' || CAST(start AS VARCHAR) || ':2:'
                           || CAST(node AS VARCHAR)) AS hx
                FROM w1
              ) w
              JOIN redges e
                ON e.src = w.node
               AND e.rn = 1 + (({_HEX8_SQL}) % e.deg)
            ),
            w3 AS MATERIALIZED (
              SELECT w.start, 3 AS step, e.dst AS node
              FROM (
                SELECT start, node,
                       md5('walk:' || CAST(start AS VARCHAR) || ':3:'
                           || CAST(node AS VARCHAR)) AS hx
                FROM w2
              ) w
              JOIN redges e
                ON e.src = w.node
               AND e.rn = 1 + (({_HEX8_SQL}) % e.deg)
            )
            SELECT start, CAST(step AS INTEGER) AS step, node FROM w0
            UNION ALL SELECT start, 1, node FROM w1
            UNION ALL SELECT start, 2, node FROM w2
            UNION ALL SELECT start, 3, node FROM w3
        """
        ),
        "concurrent_stays": f"""
            WITH {POSITIONS_CTE},
            isl AS (
              SELECT user_id, region_id, hour,
                     CAST(epoch(hour) AS BIGINT) // 3600
                       - row_number() OVER (
                           PARTITION BY user_id, region_id ORDER BY hour)
                       AS island
              FROM pos
            ),
            segs AS (
              SELECT user_id, region_id,
                     min(hour) AS stay_start, max(hour) AS stay_end
              FROM isl GROUP BY user_id, region_id, island
            ),
            deltas AS (
              SELECT region_id, hour, CAST(sum(d) AS BIGINT) AS delta
              FROM (
                SELECT region_id, stay_start AS hour, 1 AS d FROM segs
                UNION ALL
                SELECT region_id, stay_end + INTERVAL 1 HOUR, -1
                FROM segs
              ) GROUP BY 1, 2
            )
            SELECT region_id, hour,
                   CAST(sum(delta) OVER (PARTITION BY region_id
                     ORDER BY hour
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS n_active
            FROM deltas
        """,
        "key_skew_profile": """
            WITH per_user AS (
              SELECT event_type, user_id, count(*) AS cnt
              FROM events GROUP BY 1, 2
            ),
            ranked AS (
              SELECT event_type, cnt,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY cnt, user_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n_users,
                     sum(cnt) OVER (PARTITION BY event_type) AS n_events,
                     max(cnt) OVER (PARTITION BY event_type) AS max_cnt
              FROM per_user
            )
            SELECT event_type,
                   CAST(n_users AS BIGINT) AS n_users,
                   CAST(n_events AS BIGINT) AS n_events,
                   CAST(max_cnt AS DOUBLE) / CAST(n_events AS DOUBLE)
                     AS top1_share,
                   CAST(sum((2 * rn - n_users - 1) * cnt) AS DOUBLE)
                   / CAST(n_users * n_events AS DOUBLE) AS gini
            FROM ranked
            GROUP BY event_type, n_users, n_events, max_cnt
        """,
        "stratified_split_counts": """
            WITH ranked AS (
              SELECT source,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rn,
                     count(*) OVER (PARTITION BY source) AS n
              FROM documents
            )
            SELECT source,
                   CASE WHEN rn <= floor(n * 9 / 10) THEN 'train'
                        WHEN rn <= floor(n * 19 / 20) THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n_docs
            FROM ranked GROUP BY 1, 2
        """,
        "dense_grid_clusters": """
            WITH RECURSIVE pts AS (
              SELECT user_id,
                     (((CAST(floor(value) AS BIGINT) % 60) + 60) % 60)
                       AS cx,
                     (((CAST(floor(value * 7919.0) AS BIGINT) % 60) + 60)
                      % 60) AS cy
              FROM events
            ),
            dense AS (
              SELECT cx, cy, count(DISTINCT user_id) AS n_users,
                     cx * 60 + cy AS cell
              FROM pts GROUP BY cx, cy
              HAVING count(DISTINCT user_id) >= 3
            ),
            pairs AS (
              SELECT a.cell AS cell_a, b.cell AS cell_b
              FROM dense a JOIN dense b
                ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
               AND a.cell < b.cell
            ),
            edges AS (
              SELECT cell_a AS a, cell_b AS b FROM pairs
              UNION SELECT cell_b, cell_a FROM pairs
            ),
            nodes AS (SELECT DISTINCT a AS node FROM edges),
            reach(src, node) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
            ),
            labels AS (
              SELECT src AS cell, min(node) AS component
              FROM reach GROUP BY src
            )
            SELECT d.cx, d.cy, d.n_users,
                   coalesce(l.component, d.cell) AS cluster
            FROM dense d LEFT JOIN labels l ON l.cell = d.cell
        """,
        "trajectory_overlap": (
            "WITH "
            + POSITIONS_CTE
            + """
            SELECT a.user_id AS u1, b.user_id AS u2,
                   count(*) AS n_shared_hours
            FROM pos a
            JOIN pos b ON a.hour = b.hour
                      AND a.region_id = b.region_id
                      AND a.user_id < b.user_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """
        ),
        "skipgram_pairs": f"""
            WITH toks AS (
              SELECT {_TOKENS_SQL} AS t FROM documents
            ),
            legs AS (
              SELECT t[i] AS w, t[i + 1] AS c
              FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2)
              UNION ALL
              SELECT t[i + 1], t[i]
              FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2)
              UNION ALL
              SELECT t[i] AS w, t[i + 2] AS c
              FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
                    FROM toks WHERE len(t) >= 3)
              UNION ALL
              SELECT t[i + 2], t[i]
              FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
                    FROM toks WHERE len(t) >= 3)
            )
            SELECT w, c, count(*) AS n FROM legs GROUP BY 1, 2
            ORDER BY n DESC, w ASC, c ASC LIMIT 30
        """,
        "doc_chunks": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
            ),
            chunks AS (
              SELECT doc_id, len(t) AS n_tok, t,
                     unnest(generate_series(1, len(t), 40)) AS start
              FROM toks WHERE len(t) >= 1
            )
            SELECT doc_id,
                   CAST((start - 1) // 40 AS INTEGER) AS chunk_id,
                   CAST(start AS INTEGER) AS start,
                   CAST(LEAST(50, n_tok - start + 1) AS INTEGER)
                     AS chunk_len,
                   t[start] AS first_tok,
                   t[start + LEAST(50, n_tok - start + 1) - 1] AS last_tok
            FROM chunks
        """,
        "kwic_contexts": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
            ),
            hits AS (
              SELECT doc_id, t, i AS pos
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t))) AS i
                    FROM toks)
              WHERE t[i] = 'spark'
            )
            SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                   array_to_string(
                     t[GREATEST(1, pos - 3):LEAST(len(t), pos + 3)],
                     ' ') AS context
            FROM hits
        """,
        "sentence_stats": """
            WITH sents AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(
                         string_split_regex(lower(trim(text)), '\\.'),
                         x -> trim(x)),
                       x -> x <> '') AS ss
              FROM documents
            ),
            per_sent AS (
              SELECT doc_id,
                     len(list_filter(
                       string_split_regex(s, '\\s+'), t -> t <> ''))
                       AS n_words
              FROM (SELECT doc_id, unnest(ss) AS s FROM sents)
            )
            SELECT doc_id,
                   count(*) AS n_sentences,
                   CAST(sum(n_words) AS BIGINT) AS n_words,
                   CAST(sum(n_words) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS mean_sentence_len
            FROM per_sent GROUP BY doc_id
        """,
        # ---- batch 5: graph stats / time series / anomaly / scaling ----
        "region_degree_stats": (
            "WITH "
            + EDGES_CTE
            + """,
            od AS (
              SELECT pre_region_id AS orig, region_id AS dest,
                     count(*) AS cnt
              FROM edges WHERE pre_region_id <> region_id
              GROUP BY 1, 2
            ),
            outs AS (
              SELECT orig AS node, count(DISTINCT dest) AS out_deg,
                     CAST(sum(cnt) AS BIGINT) AS out_strength
              FROM od GROUP BY 1
            ),
            ins AS (
              SELECT dest AS node, count(DISTINCT orig) AS in_deg
              FROM od GROUP BY 1
            )
            SELECT coalesce(o.node, i.node) AS node,
                   coalesce(o.out_deg, 0) AS out_deg,
                   coalesce(i.in_deg, 0) AS in_deg,
                   coalesce(o.out_strength, 0) AS out_strength
            FROM outs o FULL JOIN ins i ON o.node = i.node
        """
        ),
        "ewma_user_value": """
            WITH lst AS (
              SELECT user_id,
                     list(value ORDER BY ts ASC, event_id ASC) AS vals
              FROM events WHERE value IS NOT NULL GROUP BY user_id
            )
            SELECT user_id,
                   floor(list_reduce(vals,
                         (a, x) -> a / 2.0 + x / 2.0)
                         * 1000000.0 + 0.5) / 1000000.0 AS ewma
            FROM lst
        """,
        "value_outliers_by_type": """
            WITH stats AS (
              SELECT event_type, count(value) AS n,
                     floor(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                           / CAST(count(value) AS DOUBLE)
                           * 1000000.0 + 0.5) / 1000000.0 AS mean_v,
                     floor(CAST(sum(CAST(value * value AS DECIMAL(28,6)))
                                AS DOUBLE)
                           / CAST(count(value) AS DOUBLE)
                           * 1000000.0 + 0.5) / 1000000.0 AS mean_sq
              FROM events GROUP BY event_type
            )
            SELECT e.event_type, s.n, s.mean_v,
                   CAST(sum(CAST((e.value - s.mean_v) * (e.value - s.mean_v)
                                 > 4.0 * (s.mean_sq - s.mean_v * s.mean_v)
                                 AS INTEGER)) AS BIGINT) AS n_outliers
            FROM events e JOIN stats s USING (event_type)
            GROUP BY e.event_type, s.n, s.mean_v
        """,
        "embedding_minmax_norm": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings
            ),
            dims AS (
              SELECT unnest(generate_series(
                1, (SELECT max(len(vec)) FROM e))) AS i
            ),
            cells AS (
              SELECT vec_id, g.i AS i, vec[g.i] AS x
              FROM e CROSS JOIN dims g
            ),
            stats AS (
              SELECT i, min(x) AS mn, max(x) AS mx FROM cells GROUP BY i
            )
            SELECT c.vec_id, CAST(c.i AS INTEGER) AS dim_idx,
                   (c.x - s.mn) / (s.mx - s.mn) AS x_norm
            FROM cells c JOIN stats s USING (i)
            WHERE c.vec_id < 20
        """,
        "stopword_discovery": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS tok
              FROM documents
            ),
            df_tab AS (
              SELECT tok, count(*) AS df FROM toks GROUP BY tok
            )
            SELECT tok, df,
                   CAST(df AS DOUBLE)
                   / CAST((SELECT count(*) FROM documents) AS DOUBLE)
                     AS df_share
            FROM df_tab
            ORDER BY df DESC, tok ASC LIMIT 20
        """,
        "top_session_paths": """
            WITH paths AS (
              SELECT string_agg(event_type, '>'
                       ORDER BY ts ASC, event_id ASC) AS path
              FROM events
              GROUP BY user_id, CAST(ts AS DATE)
            )
            SELECT path, count(*) AS n_sessions
            FROM paths GROUP BY path
            ORDER BY n_sessions DESC, path ASC LIMIT 10
        """,
        "audio_window_energy": """
            WITH base AS (
              SELECT doc_id, 100 + doc_id % 400 AS n FROM documents
            ),
            wins AS (
              SELECT doc_id,
                     unnest(generate_series(0, (n // 50) - 1)) AS w
              FROM base WHERE n >= 50
            ),
            vals AS (
              SELECT doc_id, w, unnest(generate_series(0, 49)) AS s
              FROM wins
            )
            SELECT doc_id, CAST(w AS INTEGER) AS win_idx,
                   CAST(sum((doc_id + 50 * w + s) % 256) AS BIGINT)
                     AS sum_pcm,
                   CAST(max((doc_id + 50 * w + s) % 256) AS INTEGER)
                     AS peak
            FROM vals GROUP BY doc_id, w
        """,
        # batch 10 (round 5): per-user mobility characteristics over
        # the shared hourly-position CTE on the 5-wide region grid
        "radius_of_gyration": f"""
            WITH {POSITIONS_CTE},
            pts AS (
              SELECT user_id,
                     CAST((region_id - 1) % 5 AS BIGINT) AS x,
                     CAST((region_id - 1) // 5 AS BIGINT) AS y
              FROM pos
            ),
            mom AS (
              SELECT user_id, count(*) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM pts GROUP BY user_id
            )
            SELECT user_id, n AS n_obs,
                   sqrt(CAST(n * sxx - sx * sx + n * syy - sy * sy
                             AS DOUBLE)) / CAST(n AS DOUBLE) AS rog
            FROM mom
        """,
        "location_diversity": f"""
            WITH {POSITIONS_CTE},
            cnt AS (
              SELECT user_id, region_id, count(*) AS c
              FROM pos GROUP BY user_id, region_id
            )
            SELECT user_id, count(*) AS n_regions,
                   CAST(sum(c) AS BIGINT) AS n_obs,
                   CAST(sum(c) * sum(c) AS DOUBLE)
                   / CAST(sum(c * c) AS DOUBLE) AS eff_regions
            FROM cnt GROUP BY user_id
        """,
        "top_location_share": f"""
            WITH {POSITIONS_CTE},
            cnt AS (
              SELECT user_id, region_id, count(*) AS c
              FROM pos GROUP BY user_id, region_id
            ),
            top AS (
              SELECT user_id, region_id, c,
                     CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT)
                       AS n_obs
              FROM cnt
              QUALIFY row_number() OVER (
                PARTITION BY user_id
                ORDER BY c DESC, region_id ASC) = 1
            )
            SELECT user_id, CAST(region_id AS INTEGER) AS top_region,
                   n_obs,
                   CAST(c AS DOUBLE) / CAST(n_obs AS DOUBLE)
                     AS top_share
            FROM top
        """,
        "jump_length_histogram": f"""
            WITH {POSITIONS_CTE},
            pts AS (
              SELECT user_id, hour,
                     CAST((region_id - 1) % 5 AS BIGINT) AS x,
                     CAST((region_id - 1) // 5 AS BIGINT) AS y
              FROM pos
            ),
            hops AS (
              SELECT user_id,
                     greatest(abs(x - lag(x) OVER w),
                              abs(y - lag(y) OVER w)) AS dist
              FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY hour)
              QUALIFY lag(x) OVER w IS NOT NULL
            )
            SELECT dist, count(*) AS n_hops,
                   count(DISTINCT user_id) AS n_users
            FROM hops GROUP BY dist
        """,
        "visitation_rank_curve": f"""
            WITH {POSITIONS_CTE},
            cnt AS (
              SELECT user_id, region_id, count(*) AS c
              FROM pos GROUP BY user_id, region_id
            ),
            rk AS (
              SELECT user_id, c,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY c DESC, region_id ASC) AS rnk
              FROM cnt
              QUALIFY rnk <= 10
            )
            SELECT CAST(rnk AS INTEGER) AS rnk, count(*) AS n_users,
                   CAST(sum(c) AS BIGINT) AS total_visits,
                   CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS avg_visits
            FROM rk GROUP BY rnk
        """,
        # batch 11 (round 5): corpus statistics for curation
        "chi2_keywords": f"""
            WITH toks AS (
              SELECT source, unnest({_TOKENS_SQL}) AS w FROM documents
            ),
            a_tbl AS (
              SELECT source, w, count(*) AS a
              FROM toks GROUP BY source, w
            ),
            g_tbl AS (SELECT w, count(*) AS gw FROM toks GROUP BY w),
            s_tbl AS (
              SELECT source, count(*) AS ts FROM toks GROUP BY source
            ),
            n_tbl AS (SELECT count(*) AS n FROM toks),
            scored AS (
              SELECT a_tbl.source, a_tbl.w AS token, a,
                     (CAST(n AS DOUBLE)
                      * (CAST(a AS DOUBLE)
                           * CAST(n - gw - ts + a AS DOUBLE)
                         - CAST(gw - a AS DOUBLE)
                           * CAST(ts - a AS DOUBLE))
                      * (CAST(a AS DOUBLE)
                           * CAST(n - gw - ts + a AS DOUBLE)
                         - CAST(gw - a AS DOUBLE)
                           * CAST(ts - a AS DOUBLE)))
                     / (CAST(gw AS DOUBLE)
                        * (CAST(n AS DOUBLE) - CAST(gw AS DOUBLE))
                        * CAST(ts AS DOUBLE)
                        * (CAST(n AS DOUBLE) - CAST(ts AS DOUBLE)))
                       AS chi2
              FROM a_tbl
              JOIN g_tbl USING (w)
              JOIN s_tbl USING (source)
              CROSS JOIN n_tbl
              WHERE a >= 5
                AND a * (n - gw - ts + a) > (gw - a) * (ts - a)
            )
            SELECT source, CAST(rnk AS INTEGER) AS rnk, token,
                   a AS n_in_source, chi2
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY source
                ORDER BY chi2 DESC, a DESC, token ASC) AS rnk
              FROM scored
            ) WHERE rnk <= 5
        """,
        "zipf_token_rank": f"""
            WITH counts AS (
              SELECT w, count(*) AS cnt FROM (
                SELECT unnest({_TOKENS_SQL}) AS w FROM documents
              ) GROUP BY w ORDER BY cnt DESC, w ASC LIMIT 50
            )
            SELECT rnk, token, cnt,
                   CAST(rnk * cnt AS BIGINT) AS rank_cnt
            FROM (
              SELECT CAST(row_number() OVER (
                       ORDER BY cnt DESC, w ASC) AS INTEGER) AS rnk,
                     w AS token, cnt
              FROM counts
            )
        """,
        "bigram_next_token": f"""
            WITH toks AS (
              SELECT {_TOKENS_SQL} AS t FROM documents
            ),
            bigrams AS (
              SELECT t[i] AS w1, t[i + 1] AS w2
              FROM (
                SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM toks WHERE len(t) >= 2
              )
            ),
            pair AS (
              SELECT w1, w2, count(*) AS pair_n
              FROM bigrams GROUP BY 1, 2
            ),
            ranked AS (
              SELECT w1, w2, pair_n,
                     CAST(sum(pair_n) OVER (PARTITION BY w1)
                          AS BIGINT) AS head_n,
                     row_number() OVER (
                       PARTITION BY w1
                       ORDER BY pair_n DESC, w2 ASC) AS rn
              FROM pair
            )
            SELECT w1, w2, pair_n, head_n,
                   CAST(pair_n AS DOUBLE) / CAST(head_n AS DOUBLE)
                     AS prob
            FROM ranked WHERE rn = 1 AND head_n >= 20
        """,
        "type_token_ratio": f"""
            WITH toks AS (
              SELECT source, unnest({_TOKENS_SQL}) AS w FROM documents
            )
            SELECT source, count(*) AS n_tokens,
                   count(DISTINCT w) AS n_types,
                   CAST(count(DISTINCT w) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS ttr
            FROM toks GROUP BY source
        """,
        # batch 12 (round 5): TPC-H relational parity widening
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1997-01-01'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND CAST(l_shipdate AS DATE)
                      > CAST(o_orderdate AS DATE) + 60
              )
            GROUP BY o_orderpriority
        """,
        "q7_nation_volume": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1998-01-01'
              AND n1.n_name <> n2.n_name
            GROUP BY 1, 2, 3
        """,
        "q14_promo_share": """
            WITH agg AS (
              SELECT month(l_shipdate) AS ship_month,
                     round(CAST(sum(CASE WHEN p_type = 'PROMO'
                          THEN CAST(l_extendedprice AS DECIMAL(18,4))
                               * (CAST(1 AS DECIMAL(18,4))
                                  - CAST(l_discount AS DECIMAL(18,4)))
                          ELSE CAST(0 AS DECIMAL(18,4)) END)
                          AS DOUBLE), 2) AS promo_revenue,
                     round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4))
                             - CAST(l_discount AS DECIMAL(18,4))))
                          AS DOUBLE), 2) AS total_revenue
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= DATE '1996-01-01'
                AND l_shipdate < DATE '1997-01-01'
              GROUP BY 1
            )
            SELECT CAST(ship_month AS INTEGER) AS ship_month,
                   promo_revenue, total_revenue,
                   CASE WHEN total_revenue > 0
                        THEN promo_revenue / total_revenue
                        ELSE NULL END AS promo_share
            FROM agg
        """,
        "q6_forecast_revenue": """
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE), 2)
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q8_market_share": """
            WITH base AS (
              SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                     CAST(l_extendedprice AS DECIMAL(18,4))
                       * (CAST(1 AS DECIMAL(18,4))
                          - CAST(l_discount AS DECIMAL(18,4))) AS vol,
                     n2.n_name AS supp_nation
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
              WHERE o_orderdate >= DATE '1996-01-01'
                AND o_orderdate < DATE '1998-01-01'
            ),
            agg AS (
              SELECT o_year,
                     round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                          THEN vol ELSE CAST(0 AS DECIMAL(18,4)) END)
                          AS DOUBLE), 2) AS nation_volume,
                     round(CAST(sum(vol) AS DOUBLE), 2) AS total_volume
              FROM base GROUP BY 1
            )
            SELECT o_year, nation_volume, total_volume,
                   CASE WHEN total_volume > 0
                        THEN nation_volume / total_volume END AS mkt_share
            FROM agg
        """,
        "q9_profit_by_nation": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE), 2) AS sum_profit,
                   count(*) AS n_lines
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY 1, 2
        """,
        "q12_priority_lateness": """
            SELECT CAST(l_shipdate AS DATE)
                     > CAST(o_orderdate AS DATE) + 90 AS is_late,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1997-01-01'
            GROUP BY 1
        """,
        "q13_customer_distribution": """
            WITH per_cust AS (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey
            )
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY c_count
        """,
        "q21_waiting_supplier": """
            WITH lo AS (
              SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_max
              FROM lineitem GROUP BY 1, 2
            ),
            stats AS (
              SELECT l_orderkey AS ok, max(supp_max) AS ord_max,
                     count(DISTINCT l_suppkey) AS n_supp
              FROM lo GROUP BY 1
            ),
            at_max AS (
              SELECT lo.l_orderkey AS ok2, count(*) AS n_at_max
              FROM lo JOIN stats ON lo.l_orderkey = stats.ok
              WHERE lo.supp_max = stats.ord_max
              GROUP BY 1
            )
            SELECT s_name, count(*) AS numwait
            FROM lo
            JOIN stats ON lo.l_orderkey = stats.ok
            JOIN at_max ON lo.l_orderkey = at_max.ok2
            JOIN supplier ON lo.l_suppkey = s_suppkey
            WHERE stats.n_supp >= 2
              AND lo.supp_max = stats.ord_max
              AND at_max.n_at_max = 1
            GROUP BY s_name
        """,
        "q15_top_supplier": """
            WITH per_supp AS (
              SELECT l_suppkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(18,4))
                            - CAST(l_discount AS DECIMAL(18,4))))
                       AS rev_dec
              FROM lineitem
              WHERE l_shipdate >= DATE '1996-01-01'
                AND l_shipdate < DATE '1996-04-01'
              GROUP BY 1
            )
            SELECT s_suppkey, s_name,
                   round(CAST(rev_dec AS DOUBLE), 2) AS total_revenue
            FROM per_supp
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_dec = (SELECT max(rev_dec) FROM per_supp)
        """,
        "q19_disjunctive_revenue": """
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE), 2) AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
                   AND p_size BETWEEN 1 AND 5)
               OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 10 AND 20
                   AND p_size BETWEEN 1 AND 10)
               OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30
                   AND p_size BETWEEN 1 AND 15)
        """,
        "q22_idle_rich": """
            WITH bal_glob AS (
              SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) AS bal_sum,
                     count(*) AS bal_n
              FROM customer
            )
            SELECT n_name, count(*) AS n_customers,
                   round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4)))
                        AS DOUBLE), 2) AS total_acctbal
            FROM customer CROSS JOIN bal_glob
            JOIN nation ON c_nationkey = n_nationkey
            WHERE CAST(c_acctbal AS DECIMAL(18,4)) * bal_n > bal_sum
              AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderdate >= DATE '2000-01-01'
              )
            GROUP BY n_name
        """,
        "q16_supplier_cnt": """
            WITH ps AS (
              SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            )
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM ps
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
              )
            GROUP BY 1, 2, 3
        """,
        "q17_small_qty_revenue": """
            WITH branded AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#13'
            ),
            stats AS (
              SELECT l_partkey AS sk, count(*) AS n_li,
                     sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_q
              FROM branded GROUP BY 1
            )
            SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                        AS DOUBLE), 2) AS revenue_small_qty,
                   count(*) AS n_lineitems
            FROM branded JOIN stats ON l_partkey = sk
            WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * n_li < sum_q
        """,
        "harmonic_centrality": _harmonic_oracle(),
        "region_closeness": _closeness_oracle(),
        "exploration_curve": f"""
            WITH {POSITIONS_CTE},
            flagged AS (
              SELECT row_number() OVER (
                       PARTITION BY user_id ORDER BY hour) AS visit_idx,
                     row_number() OVER (
                       PARTITION BY user_id, region_id ORDER BY hour) = 1
                       AS is_new
              FROM pos
            )
            SELECT CAST(visit_idx AS INTEGER) AS visit_idx,
                   count(*) AS n_visits,
                   CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_new,
                   CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS new_frac
            FROM flagged GROUP BY 1
        """,
        "user_burstiness": f"""
            WITH {POSITIONS_CTE},
            gaps AS (
              SELECT user_id,
                     date_diff('hour', lag(hour) OVER (
                       PARTITION BY user_id ORDER BY hour), hour) AS g
              FROM pos
              QUALIFY g IS NOT NULL
            ),
            stats AS (
              SELECT user_id, count(*) AS n_gaps,
                     CAST(sum(g) AS BIGINT) AS sum_gap_h,
                     CAST(sum(g * g) AS BIGINT) AS sum_gap_sq
              FROM gaps GROUP BY 1 HAVING count(*) >= 2
            ),
            derived AS (
              SELECT user_id, n_gaps, sum_gap_h, sum_gap_sq,
                     sqrt(CAST(n_gaps AS DOUBLE) * CAST(sum_gap_sq AS DOUBLE)
                          - CAST(sum_gap_h AS DOUBLE)
                            * CAST(sum_gap_h AS DOUBLE))
                       / CAST(n_gaps AS DOUBLE) AS sd,
                     CAST(sum_gap_h AS DOUBLE)
                       / CAST(n_gaps AS DOUBLE) AS mu
              FROM stats
            )
            SELECT user_id, n_gaps, sum_gap_h, sum_gap_sq,
                   CASE WHEN sd + mu > 0
                        THEN (sd - mu) / (sd + mu) END AS burstiness
            FROM derived
        """,
        # batch 14 (round 5): sufficient-statistics analytics
        "ols_value_trend": """
            WITH mom AS (
              SELECT event_type, count(*) AS n,
                     CAST(sum(hour(ts)) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(y * hour(ts)) AS BIGINT) AS sxy,
                     CAST(sum(hour(ts) * hour(ts)) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM (
                SELECT event_type, ts,
                       CAST(CAST(value AS DECIMAL(18,4)) * 10000
                            AS BIGINT) AS y
                FROM events WHERE value IS NOT NULL
              ) GROUP BY 1
            ),
            d AS (
              SELECT event_type, n,
                     CAST(n AS DOUBLE) AS nd,
                     CAST(sx AS DOUBLE) AS sxd,
                     CAST(sy AS DOUBLE) AS syd,
                     CAST(sxy AS DOUBLE) AS sxyd,
                     CAST(sxx AS DOUBLE) AS sxxd,
                     CAST(syy AS DOUBLE) AS syyd
              FROM mom
            ),
            e AS (
              SELECT event_type, n, nd, sxd, syd,
                     nd * sxyd - sxd * syd AS cov_n,
                     nd * sxxd - sxd * sxd AS varx_n,
                     nd * syyd - syd * syd AS vary_n
              FROM d
            )
            SELECT event_type, n,
                   (cov_n / varx_n) / 10000.0 AS slope,
                   ((syd - (cov_n / varx_n) * sxd) / nd) / 10000.0
                     AS intercept,
                   (cov_n * cov_n) / (varx_n * vary_n) AS r2
            FROM e
            WHERE varx_n > 0 AND vary_n > 0
        """,
        "benford_digits": """
            WITH base AS (
              SELECT event_type,
                     CAST(floor(abs(value) * 100.0) AS BIGINT) AS d0
              FROM events WHERE value IS NOT NULL AND value <> 0
            ),
            r AS (
              SELECT event_type, {} AS lead_digit FROM base
            ),
            counts AS (
              SELECT event_type, lead_digit, count(*) AS cnt
              FROM r GROUP BY 1, 2
            )
            SELECT event_type, lead_digit, cnt,
                   CAST(cnt AS DOUBLE)
                   / CAST(sum(cnt) OVER (PARTITION BY event_type)
                          AS DOUBLE) AS share
            FROM counts
        """.format(_benford_digit_sql()),
        # batch 15 (round 5): OD diagnostics
        "od_flow_balance": (
            "WITH "
            + EDGES_CTE
            + """,
            flows AS (
              SELECT pre_region_id AS orig, region_id AS dest
              FROM edges WHERE pre_region_id <> region_id
            ),
            outf AS (
              SELECT orig AS region, count(*) AS out_cnt
              FROM flows GROUP BY 1
            ),
            inf AS (
              SELECT dest AS region, count(*) AS in_cnt
              FROM flows GROUP BY 1
            )
            SELECT CAST(COALESCE(o.region, i.region) AS INTEGER)
                     AS region,
                   CAST(COALESCE(in_cnt, 0) AS BIGINT) AS in_cnt,
                   CAST(COALESCE(out_cnt, 0) AS BIGINT) AS out_cnt,
                   CAST(COALESCE(in_cnt, 0) - COALESCE(out_cnt, 0)
                        AS BIGINT) AS net,
                   CAST(abs(COALESCE(in_cnt, 0) - COALESCE(out_cnt, 0))
                        AS DOUBLE)
                   / CAST(COALESCE(in_cnt, 0) + COALESCE(out_cnt, 0)
                          AS DOUBLE) AS imbalance
            FROM outf o FULL OUTER JOIN inf i ON o.region = i.region
        """
        ),
        "region_peak_hour": f"""
            WITH occ AS (
              SELECT CAST({REGION_SQL} AS INTEGER) AS region_id,
                     date_trunc('hour', ts) AS hour,
                     count(DISTINCT user_id) AS n_users
              FROM events GROUP BY 1, 2
            )
            SELECT CAST(region_id AS INTEGER) AS region,
                   hour AS peak_hour,
                   n_users AS peak_users
            FROM occ
            QUALIFY row_number() OVER (
              PARTITION BY region_id
              ORDER BY n_users DESC, hour ASC) = 1
        """,
        # batch 16 (round 5): sketches + time series
        "countmin_heavy_hitters": f"""
            WITH ex AS (
              SELECT user_id, unnest([0, 1, 2, 3]) AS d FROM events
            ),
            hashed AS (
              SELECT d, ({_HEX8_SQL}) % {_CMS_WIDTH} AS bucket FROM (
                SELECT d, md5('cms' || CAST(d AS VARCHAR) || ':'
                              || CAST(user_id AS VARCHAR)) AS hx
                FROM ex
              )
            ),
            counters AS (
              SELECT d, bucket, count(*) AS c
              FROM hashed GROUP BY 1, 2
            ),
            top AS (
              SELECT user_id, count(*) AS exact_cnt
              FROM events GROUP BY 1
              ORDER BY exact_cnt DESC, user_id ASC LIMIT 20
            ),
            probe AS (
              SELECT user_id, exact_cnt, d,
                     ({_HEX8_SQL}) % {_CMS_WIDTH} AS bucket
              FROM (
                SELECT user_id, exact_cnt, d,
                       md5('cms' || CAST(d AS VARCHAR) || ':'
                           || CAST(user_id AS VARCHAR)) AS hx
                FROM (
                  SELECT user_id, exact_cnt, unnest([0, 1, 2, 3]) AS d
                  FROM top
                )
              )
            )
            SELECT p.user_id, p.exact_cnt,
                   CAST(min(c.c) AS BIGINT) AS cms_estimate
            FROM probe p
            JOIN counters c ON c.d = p.d AND c.bucket = p.bucket
            GROUP BY 1, 2
        """,
        "occupancy_autocorrelation": f"""
            WITH occ AS (
              SELECT CAST({REGION_SQL} AS INTEGER) AS region_id,
                     date_trunc('hour', ts) AS hour,
                     count(DISTINCT user_id) AS n_users
              FROM events GROUP BY 1, 2
            ),
            span AS (
              SELECT min(date_trunc('hour', ts)) AS h0,
                     max(date_trunc('hour', ts)) AS h1
              FROM events
            ),
            hours AS (
              SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                       AS hour
              FROM span
            ),
            regions AS (
              SELECT CAST(unnest(generate_series(1, {N_REGIONS}))
                          AS INTEGER) AS region_id
            ),
            dense AS (
              SELECT r.region_id, h.hour,
                     CAST(coalesce(o.n_users, 0) AS BIGINT) AS n_users
              FROM hours h
              CROSS JOIN regions r
              LEFT JOIN occ o ON o.region_id = r.region_id
                             AND o.hour = h.hour
            ),
            pairs AS (
              SELECT region_id, lag(n_users) OVER w AS x,
                     n_users AS y
              FROM dense WINDOW w AS (
                PARTITION BY region_id ORDER BY hour)
              QUALIFY lag(n_users) OVER w IS NOT NULL
            ),
            mom AS (
              SELECT region_id, count(*) AS m,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM pairs GROUP BY 1
            )
            SELECT region_id, m AS n_pairs,
                   CAST(m * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(m * syy - sy * sy AS DOUBLE))) AS r1
            FROM mom
            WHERE m * sxx - sx * sx > 0
              AND m * syy - sy * sy > 0
        """,
        "bloom_membership_report": f"""
            WITH users AS (
              SELECT DISTINCT user_id FROM events
            ),
            members AS (
              SELECT DISTINCT user_id FROM events
              WHERE event_type = 'purchase'
            ),
            bits AS (
              SELECT DISTINCT ({_HEX8_SQL}) % {_BLOOM_BITS} AS bit
              FROM (
                SELECT md5('bloom' || CAST(i AS VARCHAR) || ':'
                           || CAST(user_id AS VARCHAR)) AS hx
                FROM (
                  SELECT user_id, unnest([0, 1, 2]) AS i FROM members
                )
              )
            ),
            probe AS (
              SELECT user_id, ({_HEX8_SQL}) % {_BLOOM_BITS} AS bit
              FROM (
                SELECT user_id,
                       md5('bloom' || CAST(i AS VARCHAR) || ':'
                           || CAST(user_id AS VARCHAR)) AS hx
                FROM (
                  SELECT user_id, unnest([0, 1, 2]) AS i FROM users
                )
              )
            ),
            hits AS (
              SELECT user_id, count(*) AS nhit
              FROM probe
              WHERE bit IN (SELECT bit FROM bits)
              GROUP BY 1
            ),
            labeled AS (
              SELECT u.user_id,
                     coalesce(h.nhit, 0) = {_BLOOM_K} AS bloom_pos,
                     u.user_id IN (SELECT user_id FROM members)
                       AS is_member
              FROM users u
              LEFT JOIN hits h ON h.user_id = u.user_id
            )
            SELECT count(*) AS n_users,
                   CAST(coalesce(sum(CASE WHEN is_member
                                     THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_members,
                   CAST(coalesce(sum(CASE WHEN bloom_pos
                                          AND NOT is_member
                                     THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_false_positives,
                   CAST(coalesce(sum(CASE WHEN is_member
                                          AND NOT bloom_pos
                                     THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_false_negatives,
                   CAST(coalesce(sum(CASE WHEN bloom_pos
                                          AND NOT is_member
                                     THEN 1 ELSE 0 END), 0) AS DOUBLE)
                   / CAST(greatest(coalesce(sum(CASE WHEN NOT is_member
                                            THEN 1 ELSE 0 END), 0), 1)
                          AS DOUBLE) AS fp_rate
            FROM labeled
        """,
        # batch 17 (round 5): mobility modelling + trends
        "gravity_model_fit": (
            "WITH "
            + EDGES_CTE
            + """,
            mass AS (
              SELECT region_id AS r, count(*) AS m FROM pos GROUP BY 1
            ),
            flow AS (
              SELECT pre_region_id AS orig, region_id AS dest,
                     count(*) AS y
              FROM edges
              WHERE pre_region_id <> region_id
                AND pre_region_id > 0 AND region_id > 0
              GROUP BY 1, 2
            ),
            pts AS (
              SELECT CAST(mi.m * mj.m AS BIGINT) AS x,
                     CAST(y AS BIGINT) AS y
              FROM flow
              JOIN mass mi ON mi.r = orig
              JOIN mass mj ON mj.r = dest
            ),
            mom AS (
              SELECT count(*) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM pts
            ),
            e AS (
              SELECT n,
                     CAST(n AS DOUBLE) AS nd,
                     CAST(sx AS DOUBLE) AS sxd,
                     CAST(sy AS DOUBLE) AS syd,
                     CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                       AS cov_n,
                     CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                       AS varx_n,
                     CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                       AS vary_n
              FROM mom
            )
            SELECT n AS n_pairs,
                   cov_n / varx_n AS slope,
                   (syd - (cov_n / varx_n) * sxd) / nd AS intercept,
                   (cov_n * cov_n) / (varx_n * vary_n) AS r2
            FROM e
            WHERE varx_n > 0 AND vary_n > 0
        """
        ),
        "weekly_region_growth": f"""
            WITH {POSITIONS_CTE},
            weekly AS (
              SELECT CAST(region_id AS INTEGER) AS region,
                     CAST(date_trunc('week', hour) AS TIMESTAMP)
                       AS week,
                     count(*) AS cnt
              FROM pos GROUP BY 1, 2
            ),
            lagd AS (
              SELECT region, week, cnt,
                     lag(cnt) OVER (
                       PARTITION BY region ORDER BY week) AS prev_cnt
              FROM weekly
              QUALIFY prev_cnt IS NOT NULL
            )
            SELECT region, week, cnt,
                   CAST(prev_cnt AS BIGINT) AS prev_cnt,
                   CAST(cnt - prev_cnt AS DOUBLE)
                   / CAST(prev_cnt AS DOUBLE) AS growth
            FROM lagd
        """,
        # batch 18 (round 5): commuter analysis
        "work_location": f"""
            WITH {POSITIONS_CTE},
            counted AS (
              SELECT user_id, region_id, count(*) AS n
              FROM pos
              WHERE hour(hour) BETWEEN 9 AND 17
              GROUP BY 1, 2
            )
            SELECT user_id, region_id AS work_region
            FROM counted
            QUALIFY row_number() OVER (
              PARTITION BY user_id ORDER BY n DESC, region_id ASC) = 1
        """,
        "commute_matrix": f"""
            WITH {POSITIONS_CTE},
            {NIGHT_ANCHORS_CTE.strip().lstrip()},
            hcount AS (
              SELECT user_id, region_id, count(*) AS n
              FROM anchors GROUP BY 1, 2
            ),
            home AS (
              SELECT user_id, region_id AS home_region
              FROM hcount
              QUALIFY row_number() OVER (
                PARTITION BY user_id
                ORDER BY n DESC, region_id ASC) = 1
            ),
            wcount AS (
              SELECT user_id, region_id, count(*) AS n
              FROM pos
              WHERE hour(hour) BETWEEN 9 AND 17
              GROUP BY 1, 2
            ),
            work AS (
              SELECT user_id, region_id AS work_region
              FROM wcount
              QUALIFY row_number() OVER (
                PARTITION BY user_id
                ORDER BY n DESC, region_id ASC) = 1
            )
            SELECT CAST(home_region AS INTEGER) AS home_region,
                   CAST(work_region AS INTEGER) AS work_region,
                   count(*) AS n_users
            FROM home JOIN work USING (user_id)
            GROUP BY 1, 2
        """,
        # batch 19 (round 5): flow symmetry + regularity
        "od_symmetry": (
            "WITH "
            + EDGES_CTE
            + """,
            flows AS (
              SELECT pre_region_id AS orig, region_id AS dest,
                     count(*) AS f
              FROM edges
              WHERE pre_region_id <> region_id
                AND pre_region_id > 0 AND region_id > 0
              GROUP BY 1, 2
            ),
            und AS (
              SELECT CAST(least(orig, dest) AS INTEGER) AS a,
                     CAST(greatest(orig, dest) AS INTEGER) AS b,
                     CAST(sum(CASE WHEN orig < dest THEN f
                              ELSE 0 END) AS BIGINT) AS f_ab,
                     CAST(sum(CASE WHEN orig > dest THEN f
                              ELSE 0 END) AS BIGINT) AS f_ba
              FROM flows GROUP BY 1, 2
            )
            SELECT a, b, f_ab, f_ba,
                   CAST(2 * least(f_ab, f_ba) AS DOUBLE)
                   / CAST(f_ab + f_ba AS DOUBLE) AS symmetry
            FROM und
        """
        ),
        "user_regularity": f"""
            WITH {POSITIONS_CTE},
            cells AS (
              SELECT user_id,
                     (isodow(hour) - 1) * 24 + hour(hour) AS how,
                     region_id, count(*) AS c
              FROM pos GROUP BY 1, 2, 3
            ),
            per_slot AS (
              SELECT user_id, how,
                     CAST(max(c) AS BIGINT) AS top_c,
                     CAST(sum(c) AS BIGINT) AS tot_c
              FROM cells GROUP BY 1, 2
            )
            SELECT user_id,
                   CAST(sum(tot_c) AS BIGINT) AS n_obs,
                   CAST(sum(top_c) AS DOUBLE)
                   / CAST(sum(tot_c) AS DOUBLE) AS regularity
            FROM per_slot GROUP BY 1
        """,
        # batch 20 (round 5): corpus growth + corridor concentration
        "vocab_growth_curve": f"""
            WITH span AS (
              SELECT min(doc_id) AS lo, max(doc_id) AS hi
              FROM documents
            ),
            wb AS (
              SELECT CAST(floor((doc_id - lo) * 10
                               / (hi - lo + 1)) AS BIGINT) AS bucket,
                     {_TOKENS_SQL} AS t
              FROM documents CROSS JOIN span
            ),
            toks AS (SELECT bucket, unnest(t) AS w FROM wb),
            per_bucket AS (
              SELECT bucket, count(*) AS n_tokens
              FROM toks GROUP BY 1
            ),
            first_seen AS (
              SELECT w, min(bucket) AS fb FROM toks GROUP BY 1
            ),
            nt AS (
              SELECT fb AS bucket, count(*) AS new_types
              FROM first_seen GROUP BY 1
            ),
            j AS (
              SELECT p.bucket, p.n_tokens,
                     CAST(coalesce(n.new_types, 0) AS BIGINT)
                       AS new_types
              FROM per_bucket p LEFT JOIN nt n USING (bucket)
            )
            SELECT CAST(bucket AS INTEGER) AS bucket, n_tokens,
                   new_types,
                   CAST(sum(n_tokens) OVER (
                     ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS cum_tokens,
                   CAST(sum(new_types) OVER (
                     ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS cum_types
            FROM j
        """,
        "hub_dependence": (
            "WITH "
            + EDGES_CTE
            + """,
            flows AS (
              SELECT pre_region_id AS orig, region_id AS dest,
                     count(*) AS f
              FROM edges
              WHERE pre_region_id <> region_id
                AND pre_region_id > 0 AND region_id > 0
              GROUP BY 1, 2
            ),
            ranked AS (
              SELECT orig, dest, f,
                     CAST(sum(f) OVER (PARTITION BY orig) AS BIGINT)
                       AS out_flow,
                     CAST(max(f) OVER (PARTITION BY orig) AS BIGINT)
                       AS top_flow
              FROM flows
              QUALIFY row_number() OVER (
                PARTITION BY orig ORDER BY f DESC, dest ASC) = 1
            )
            SELECT CAST(orig AS INTEGER) AS region,
                   CAST(dest AS INTEGER) AS top_dest,
                   top_flow, out_flow,
                   CAST(top_flow AS DOUBLE) / CAST(out_flow AS DOUBLE)
                     AS dependence
            FROM ranked
        """
        ),
        # batch 21 (round 5): visitor diversity + daily user split
        "region_visitor_diversity": f"""
            WITH {POSITIONS_CTE},
            counts AS (
              SELECT CAST(region_id AS INTEGER) AS region, user_id,
                     count(*) AS c
              FROM pos GROUP BY 1, 2
            )
            SELECT region, count(*) AS n_visitors,
                   CAST(sum(c) AS BIGINT) AS n_obs,
                   CAST(sum(c) * sum(c) AS DOUBLE)
                   / CAST(sum(c * c) AS DOUBLE) AS eff_visitors
            FROM counts GROUP BY 1
        """,
        "new_vs_returning_daily": """
            WITH daily AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
              FROM events
            ),
            first AS (
              SELECT user_id, min(day) AS first_day
              FROM daily GROUP BY 1
            )
            SELECT day,
                   CAST(sum(CASE WHEN day = first_day THEN 1
                            ELSE 0 END) AS BIGINT) AS new_users,
                   CAST(sum(CASE WHEN day <> first_day THEN 1
                            ELSE 0 END) AS BIGINT)
                     AS returning_users,
                   count(*) AS active_users
            FROM daily JOIN first USING (user_id)
            GROUP BY 1
        """,
        # batch 22 (round 5): jump scale + trajectory quality
        "median_jump_length": f"""
            WITH {POSITIONS_CTE},
            pts AS (
              SELECT user_id, hour,
                     CAST((region_id - 1) % 5 AS BIGINT) AS x,
                     CAST((region_id - 1) // 5 AS BIGINT) AS y
              FROM pos
            ),
            hops AS (
              SELECT user_id,
                     greatest(abs(x - lag(x) OVER w),
                              abs(y - lag(y) OVER w)) AS d
              FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY hour)
              QUALIFY lag(x) OVER w IS NOT NULL
            ),
            ranked AS (
              SELECT user_id, d,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY d ASC) AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM hops
            )
            SELECT user_id, CAST(max(n) AS BIGINT) AS n_hops,
                   CAST(sum(d) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS median_jump
            FROM ranked
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
               OR rn = CAST(floor((n + 2) / 2) AS BIGINT)
            GROUP BY 1
        """,
        "trajectory_completeness": f"""
            WITH {POSITIONS_CTE}
            SELECT user_id, count(*) AS n_obs,
                   CAST(date_diff('hour', min(hour), max(hour)) + 1
                        AS BIGINT) AS span_hours,
                   CAST(count(*) AS DOUBLE)
                   / CAST(date_diff('hour', min(hour), max(hour)) + 1
                          AS DOUBLE) AS completeness
            FROM pos GROUP BY 1
        """,
    }
    # near_dup_pairs_auto routes to the EXACT path on the committed
    # corpus (n_keys < MIN_LSH_KEYS — pinned in tests/test_plans.py),
    # so its oracle is the same exact n-gram Jaccard SQL
    out["near_dup_pairs_auto"] = out["ngram_jaccard_pairs"]
    return out
