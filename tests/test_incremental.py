from __future__ import annotations

from conftest import ts

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
    IncrementalCountTable,
    incremental_occupancy_stream,
)

ROWS_B1 = [
    (1, ts("2024-01-01 10:00:00"), 5),
    (2, ts("2024-01-01 10:00:00"), 5),
    (1, ts("2024-01-01 11:00:00"), 6),
]
ROWS_B2 = [
    (3, ts("2024-01-01 10:00:00"), 5),  # adds to existing (5, 10:00)
    (1, ts("2024-01-01 12:00:00"), 6),
]


def test_foreachbatch_incremental_counts(spark, tmp_path):
    schema = "user_id long, hour timestamp, region_id int"
    src = str(tmp_path / "src")
    spark.createDataFrame(ROWS_B1, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_occupancy_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(ROWS_B2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    table = IncrementalCountTable(
        spark, str(tmp_path / "table"), ["region_id", "hour"]
    )
    got = {(r.region_id, r.hour): r.cnt for r in table.read().collect()}
    assert got == {
        (5, ts("2024-01-01 10:00:00")): 3,  # 2 from batch 1 + 1 from batch 2
        (6, ts("2024-01-01 11:00:00")): 1,
        (6, ts("2024-01-01 12:00:00")): 1,
    }


def test_merge_batch_epoch_replay_is_idempotent(spark, tmp_path):
    """An epoch that re-runs after the table pointer advanced (crash
    between merge and streaming-checkpoint commit) must not
    double-count its delta: the replay rebases onto the generation the
    first attempt consumed."""
    table = IncrementalCountTable(spark, str(tmp_path / "t"), ["k"])
    d0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, cnt long")
    table.merge_batch(d0, 0)
    d1 = spark.createDataFrame([("a", 10)], "k string, cnt long")
    table.merge_batch(d1, 1)
    table.merge_batch(d1, 1)  # replay of epoch 1
    got = {r.k: r.cnt for r in table.read().collect()}
    assert got == {"a": 11, "b": 2}


def test_merge_batch_first_epoch_replay(spark, tmp_path):
    """Replay of the very first epoch (no parent generation) resets to
    the delta alone rather than doubling it."""
    table = IncrementalCountTable(spark, str(tmp_path / "t"), ["k"])
    d0 = spark.createDataFrame([("a", 3)], "k string, cnt long")
    table.merge_batch(d0, 0)
    table.merge_batch(d0, 0)
    got = {r.k: r.cnt for r in table.read().collect()}
    assert got == {"a": 3}


def test_lazy_read_survives_retain_merges(spark, tmp_path):
    """A lazy read() handle must stay consumable across `retain`
    subsequent merges (the GC keeps that many superseded generations
    beyond current + parent)."""
    schema = "region_id int, hour timestamp, cnt long"
    table = IncrementalCountTable(
        spark, str(tmp_path / "t"), ["region_id", "hour"], retain=2
    )
    h = ts("2024-01-01 10:00:00")

    def delta(n):
        return spark.createDataFrame([(5, h, n)], schema)

    table.merge_batch(delta(1), 0)
    snapshot = table.read()  # lazy handle onto generation 0
    table.merge_batch(delta(10), 1)
    table.merge_batch(delta(100), 2)
    # two merges later the gen-0 directory is still retained
    assert {r.cnt for r in snapshot.collect()} == {1}
    assert {r.cnt for r in table.read().collect()} == {111}


def test_incremental_moments_match_batch(spark, tmp_path):
    """Streaming per-type moments (n, Σv, Σv²) equal the batch
    aggregate after all files land — additive DECIMAL partials merge
    exactly under any batch boundaries."""
    import pyspark.sql.functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_value_stats_stream,
    )
    from conftest import ts

    rows = [
        (i, ts("2024-01-01 10:00:00"), "a" if i % 2 else "b", float(i) / 7.0)
        for i in range(60)
    ]
    src = str(tmp_path / "ev_files")
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    for part in range(3):  # three separate files → three micro-batches
        df.filter(F.col("event_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    q = incremental_value_stats_stream(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    table = IncrementalCountTable(
        spark, str(tmp_path / "tbl"), ["event_type"],
        measures=("n", "sum_v", "sum_sq"),
    )
    got = {
        r.event_type: (r.n, float(r.sum_v), float(r.sum_sq))
        for r in table.read().collect()
    }
    exp = {
        r.event_type: (r.n, float(r.sum_v), float(r.sum_sq))
        for r in df.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_v"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(28,6)")).alias(
                "sum_sq"
            ),
        )
        .collect()
    }
    assert got == exp


def test_incremental_covisit_index_parity_with_batch(spark, tmp_path):
    """VERDICT r4 #7: streaming twin for the batch-5 set-similarity
    family. The foreachBatch-maintained (user, cell) inverted index,
    fed through set_similarity_join, must equal the batch covisit
    pairs over the SAME events — under a 2-file batch split, and again
    after a third late file arrives."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        set_similarity_join,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        incremental_covisit_index_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    # users 1/2 share most cells; user 3 disjoint; cell = floor(value) % 8
    b1 = [
        (1, ts("2024-01-01 10:00:00"), 1, 0.5),
        (2, ts("2024-01-01 10:01:00"), 1, 1.5),
        (3, ts("2024-01-01 10:02:00"), 2, 0.9),
        (4, ts("2024-01-01 10:03:00"), 2, 1.2),
        (5, ts("2024-01-01 10:04:00"), 3, 5.0),
    ]
    b2 = [
        (6, ts("2024-01-01 11:00:00"), 1, 2.5),
        (7, ts("2024-01-01 11:01:00"), 2, 2.7),
        (8, ts("2024-01-01 11:02:00"), 3, 6.1),
    ]
    b3 = [  # late file after first parity check
        (9, ts("2024-01-01 12:00:00"), 3, 0.3),
        (10, ts("2024-01-01 12:01:00"), 3, 1.8),
        (11, ts("2024-01-01 12:02:00"), 3, 2.2),
    ]
    src = str(tmp_path / "src")

    def batch_pairs(rows):
        ev = spark.createDataFrame(rows, schema)
        sets = ev.select(
            "user_id",
            F.pmod(F.floor(F.col("value")).cast("long"), F.lit(8)).alias(
                "cell"
            ),
        ).distinct()
        return sorted(
            tuple(r)
            for r in set_similarity_join(
                sets, "user_id", "cell", 3, 10, dense_bitmap_domain=8
            ).collect()
        )

    def index_pairs(table_path):
        from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
            IncrementalCountTable,
        )

        idx = IncrementalCountTable(
            spark, table_path, ["user_id", "cell"]
        ).read()
        return sorted(
            tuple(r)
            for r in set_similarity_join(
                idx.select("user_id", "cell"),
                "user_id",
                "cell",
                3,
                10,
                dense_bitmap_domain=8,
            ).collect()
        )

    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_covisit_index_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt"), cells=8
    )
    try:
        q.processAllAvailable()
        got = index_pairs(str(tmp_path / "table"))
        want = batch_pairs(b1 + b2)
        assert got == want and len(want) > 0
        spark.createDataFrame(b3, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    assert index_pairs(str(tmp_path / "table")) == batch_pairs(b1 + b2 + b3)


def test_incremental_basket_index_parity_with_batch(spark, tmp_path):
    """Batch-6 streaming twin: the maintained (user, day, type) index,
    paired up exactly as basket_pairs does, equals the batch pair
    supports over the same events — including a basket that accretes
    a NEW type in the second micro-batch (the cross-batch-basket
    case a per-batch pair count would get wrong)."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_basket_index_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    day1 = "2024-01-01"
    b1, b2 = [], []
    eid = 0
    # 6 users click+view on day 1 (support pairs), all in batch 1
    for u in range(1, 7):
        b1.append((eid, ts(f"{day1} 08:00:00"), u, "click")); eid += 1
        b1.append((eid, ts(f"{day1} 09:00:00"), u, "view")); eid += 1
    # user 1's SAME-day basket accretes 'purchase' only in batch 2
    b2.append((eid, ts(f"{day1} 18:00:00"), 1, "purchase")); eid += 1
    # and 5 more users purchase+view in batch 2 (fresh baskets)
    for u in range(7, 12):
        b2.append((eid, ts(f"{day1} 10:00:00"), u, "purchase")); eid += 1
        b2.append((eid, ts(f"{day1} 11:00:00"), u, "view")); eid += 1

    def pair_supports(basket):
        basket = basket.select("user_id", "day", "event_type").distinct()
        a = basket.select("user_id", "day", F.col("event_type").alias("t1"))
        b = basket.select("user_id", "day", F.col("event_type").alias("t2"))
        return {
            (r.t1, r.t2): r.support
            for r in a.join(b, ["user_id", "day"])
            .filter(F.col("t1") < F.col("t2"))
            .groupBy("t1", "t2")
            .agg(F.count("*").alias("support"))
            .collect()
        }

    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_basket_index_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    idx = IncrementalCountTable(
        spark, str(tmp_path / "table"), ["user_id", "day", "event_type"]
    ).read()
    got = pair_supports(idx)
    want = pair_supports(
        spark.createDataFrame(b1 + b2, schema).select(
            "user_id", F.col("ts").cast("date").alias("day"), "event_type"
        )
    )
    assert got == want
    # the accreted basket really crossed batches: user 1 contributes
    # to (click, purchase) even though 'click' and 'purchase' never
    # shared a micro-batch
    assert want[("click", "purchase")] == 1


def test_incremental_mobility_moments_parity_with_batch(spark, tmp_path):
    """Batch-10 streaming twin: the foreachBatch-maintained per-user
    moment table must yield BIT-IDENTICAL radius of gyration to a
    batch aggregate over the same raw pings, under a 2-file batch
    split and again after a late third file."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        grid_moments,
        grid_xy,
        rog_from_moments,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_mobility_moments_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    b1 = [
        (1, ts("2024-01-01 10:00:00"), 1, 0.5),
        (2, ts("2024-01-01 10:30:00"), 1, 7.2),
        (3, ts("2024-01-01 11:00:00"), 2, 3.3),
        (4, ts("2024-01-01 11:30:00"), 2, 3.9),
    ]
    b2 = [
        (5, ts("2024-01-01 12:00:00"), 1, 13.1),
        (6, ts("2024-01-01 12:30:00"), 2, 18.4),
        (7, ts("2024-01-01 13:00:00"), 3, 6.6),
    ]
    b3 = [  # late file after first parity check
        (8, ts("2024-01-01 14:00:00"), 3, 11.9),
        (9, ts("2024-01-01 14:30:00"), 1, 0.1),
    ]

    def batch_rog(rows):
        ev = spark.createDataFrame(rows, schema)
        region = (
            F.pmod(F.floor(F.col("value")).cast("long"), F.lit(20)) + 1
        )
        x, y = grid_xy(region, 5)
        pts = ev.select("user_id", x, y)
        return {
            r.user_id: (r.n_obs, r.rog)
            for r in rog_from_moments(grid_moments(pts)).collect()
        }

    def table_rog(table_path):
        idx = IncrementalCountTable(
            spark,
            table_path,
            ["user_id"],
            measures=("n", "sx", "sy", "sxx", "syy"),
        ).read()
        return {
            r.user_id: (r.n_obs, r.rog)
            for r in rog_from_moments(idx).collect()
        }

    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_mobility_moments_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        got = table_rog(str(tmp_path / "table"))
        want = batch_rog(b1 + b2)
        assert got == want and len(want) == 3
        # a genuinely moving user has rog > 0 (bit-equality is the
        # point, but sanity-check the metric is not degenerate)
        assert want[1][1] > 0.0
        spark.createDataFrame(b3, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        assert table_rog(str(tmp_path / "table")) == batch_rog(b1 + b2 + b3)
    finally:
        q.stop()


def test_incremental_cms_parity_with_batch_sketch(spark, tmp_path):
    """Batch-16 streaming twin: the foreachBatch-maintained CMS
    counter table must be CELL-IDENTICAL to the batch-built sketch
    over the same events (additivity is the sketch's merge property),
    under a 2-file split and after a late third file."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_cms_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    b1 = [(i, ts("2024-01-01 10:00:00"), i % 5, 1.0) for i in range(1, 12)]
    b2 = [(i, ts("2024-01-01 11:00:00"), i % 7, 2.0) for i in range(12, 25)]
    b3 = [(i, ts("2024-01-01 12:00:00"), 3, 3.0) for i in range(25, 30)]

    def batch_sketch(rows):
        ev = spark.createDataFrame(rows, schema)
        depths = F.array(*[F.lit(i) for i in range(4)])
        hashed = ev.select(
            F.explode(depths).alias("d"), "user_id"
        ).select(
            "d",
            entrymod._cms_bucket(F.col("d"), F.col("user_id")).alias(
                "bucket"
            ),
        )
        return {
            (r.d, r.bucket): r.c
            for r in hashed.groupBy("d", "bucket")
            .agg(F.count("*").alias("c"))
            .collect()
        }

    def table_sketch(table_path):
        idx = IncrementalCountTable(
            spark, table_path, ["d", "bucket"], measures=("c",)
        ).read()
        return {(r.d, r.bucket): r.c for r in idx.collect()}

    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_cms_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        assert table_sketch(str(tmp_path / "table")) == batch_sketch(b1 + b2)
        spark.createDataFrame(b3, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        got = table_sketch(str(tmp_path / "table"))
        want = batch_sketch(b1 + b2 + b3)
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_incremental_bloom_parity_with_batch_filter(spark, tmp_path):
    """The streamed Bloom bit set must equal the batch-built filter's
    bit set over the same events — including a member whose purchases
    span micro-batches (set union is idempotent)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_bloom_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    b1 = [
        (1, ts("2024-01-01 10:00:00"), 1, "purchase"),
        (2, ts("2024-01-01 10:01:00"), 2, "click"),
        (3, ts("2024-01-01 10:02:00"), 3, "purchase"),
    ]
    b2 = [
        (4, ts("2024-01-01 11:00:00"), 1, "purchase"),  # repeat member
        (5, ts("2024-01-01 11:01:00"), 4, "purchase"),
        (6, ts("2024-01-01 11:02:00"), 2, "view"),
    ]

    def batch_bits(rows):
        ev = spark.createDataFrame(rows, schema)
        members = (
            ev.filter(F.col("event_type") == "purchase")
            .select("user_id")
            .distinct()
        )
        hashes = F.array(*[F.lit(i) for i in range(3)])
        return {
            r.bit
            for r in members.select(
                F.explode(hashes).alias("i"), "user_id"
            )
            .select(
                entrymod._bloom_bit(F.col("i"), F.col("user_id")).alias(
                    "bit"
                )
            )
            .distinct()
            .collect()
        }

    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_bloom_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.bit
        for r in IncrementalCountTable(
            spark, str(tmp_path / "table"), ["bit"]
        )
        .read()
        .collect()
    }
    want = batch_bits(b1 + b2)
    assert got == want and len(want) > 0


def test_incremental_first_seen_min_merge_with_late_earlier_data(spark, tmp_path):
    """MIN-measure merge: a late file carrying an EARLIER first day
    than anything already merged must win, and event counts stay
    exact — the first-touch tracker contract."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_first_seen_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    b1 = [
        (1, ts("2024-01-05 10:00:00"), 1, "click"),
        (2, ts("2024-01-06 10:00:00"), 2, "view"),
    ]
    b2 = [  # user 1's genuinely FIRST day arrives late
        (3, ts("2024-01-02 09:00:00"), 1, "click"),
        (4, ts("2024-01-07 09:00:00"), 2, "view"),
        (5, ts("2024-01-07 10:00:00"), 3, "purchase"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_first_seen_stream(
        spark, src, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    idx = IncrementalCountTable(
        spark,
        str(tmp_path / "table"),
        ["user_id"],
        measures=("n_events",),
        min_measures=("first_day",),
    ).read()
    got = {r.user_id: (r.n_events, r.first_day) for r in idx.collect()}
    ev = spark.createDataFrame(b1 + b2, schema)
    want = {
        r.user_id: (r.n, r.fd)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.min(F.to_date("ts")).alias("fd"),
        )
        .collect()
    }
    assert got == want
    # the late-earlier-day fact really exercised the MIN path
    import datetime as dt

    assert got[1][1] == dt.date(2024, 1, 2)


def test_incremental_od_fractions_parity_under_late_replay(spark, tmp_path):
    """OD fractions (ratio of two additive measures) derived from the
    incremental table equal the batch od_fractions bit-for-bit: after
    the first file, after a LATE file carrying an EARLIER hour, and
    after an epoch replay. Fractions are never stored — only counts
    merge; the division happens at read time."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.od import (
        od_fractions,
        od_matrix,
    )
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        incremental_od_stream,
        od_fractions_from_table,
    )

    schema = (
        "user_id long, region_id int, hour timestamp, "
        "pre_hour timestamp, pre_region_id int"
    )
    h10, h11 = ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")
    h9 = ts("2024-01-01 09:00:00")
    b1 = [
        (1, 5, h10, h9, 4),
        (2, 5, h10, h9, 4),
        (3, 6, h10, h9, 4),   # same (hour, orig), second dest
        (1, 6, h11, h10, 5),
    ]
    b2 = [  # LATE file: earlier hour 09 plus more mass on (10, 4, 5)
        (4, 4, h9, ts("2024-01-01 08:00:00"), 0),
        (4, 5, h10, h9, 4),
    ]

    def batch_fracs(rows):
        edges = spark.createDataFrame(rows, schema)
        return {
            (r.hour, r.orig, r.dest): (r.cnt, r.frac)
            for r in od_fractions(od_matrix(edges)).collect()
        }

    def table_fracs(path):
        t = IncrementalCountTable(
            spark, path, ["hour", "orig", "dest"]
        )
        return {
            (r.hour, r.orig, r.dest): (r.cnt, r.frac)
            for r in od_fractions_from_table(t.read()).collect()
        }

    src = str(tmp_path / "edges")
    tbl = str(tmp_path / "od_table")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_od_stream(spark, src, tbl, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        got1 = table_fracs(tbl)
        assert got1 == batch_fracs(b1)
        # sanity: the shared-origin split is a real fraction
        assert got1[(h10, 4, 5)][1] == 2 / 3

        spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got2 = table_fracs(tbl)
        assert got2 == batch_fracs(b1 + b2)
        assert got2[(h10, 4, 5)][1] == 3 / 4  # late mass re-normalized
        assert (h9, 0, 4) in got2              # the late earlier hour landed
    finally:
        q.stop()

    # epoch replay on the same table: fractions still match (counts
    # rebase onto the parent generation, division is read-time)
    t = IncrementalCountTable(spark, tbl, ["hour", "orig", "dest"])
    ptr = t._pointer()
    replay_delta = (
        spark.createDataFrame(b2, schema)
        .groupBy(
            F.col("hour"),
            F.col("pre_region_id").alias("orig"),
            F.col("region_id").alias("dest"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    t.merge_batch(replay_delta, ptr["epoch"])  # same epoch → rebase
    assert table_fracs(tbl) == batch_fracs(b1 + b2)


def test_incremental_ivf_index_parity_under_out_of_order_upserts(
    spark, tmp_path
):
    """Maintained IVF inverted file == full Θ(N) rebuild, under
    out-of-order appends (seq 2 delivered before seq 1), updates,
    soft deletes, a later resurrect, and an epoch replay — the
    round-7 ask: corpus changes ride the exactly-once MERGE machinery
    instead of forcing an index rebuild. Serve-path equality is
    pinned too: ivf_topk from the merged index == from a fresh
    ivf_assign of the final corpus."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
        ivf_centroid_rows,
        ivf_topk,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        ivf_index_table,
        ivf_index_upsert,
    )

    import math

    from pyspark.sql import functions as F

    def vec(seed: float):
        # +1.3 offset: seed 0 would give the all-zero vector, whose
        # cosine is undefined (ANSI divide-by-zero) — not a corpus
        # this operator family accepts
        return [
            math.sin((seed + 1.3) * (j + 1) * 0.7) for j in range(8)
        ]

    base = spark.createDataFrame(
        [(i, 0, vec(float(i))) for i in range(24)],
        "vec_id long, seq long, embedding array<double>",
    )
    cent = ivf_centroid_rows(base, 4)

    table = ivf_index_table(spark, str(tmp_path / "ivf"))
    ivf_index_upsert(table, base, cent, epoch_id=0, dim=8)

    # epoch 2 lands BEFORE epoch 1 (out-of-order): seq 2 moves vec 3
    # and inserts vec 100; then the STALE seq-1 update to vec 3
    # arrives late and must lose; vec 5 is deleted at seq 1 and
    # resurrected at seq 3; epoch 2 replays (same epoch id) unchanged.
    e2 = spark.createDataFrame(
        [(3, 2, vec(77.0)), (100, 2, vec(100.0))],
        "vec_id long, seq long, embedding array<double>",
    )
    e1 = spark.createDataFrame(
        [(3, 1, vec(55.0))],
        "vec_id long, seq long, embedding array<double>",
    )
    e1_del = spark.createDataFrame(
        [(5, 1, vec(5.0), True)],
        "vec_id long, seq long, embedding array<double>, deleted boolean",
    )
    e3 = spark.createDataFrame(
        [(5, 3, vec(500.0), False)],
        "vec_id long, seq long, embedding array<double>, deleted boolean",
    )
    ivf_index_upsert(table, e2, cent, epoch_id=2, dim=8)
    ivf_index_upsert(table, e1, cent, epoch_id=1, dim=8)
    ivf_index_upsert(table, e1_del, cent, epoch_id=3, dim=8)
    ivf_index_upsert(table, e2, cent, epoch_id=2, dim=8)  # replay
    ivf_index_upsert(table, e3, cent, epoch_id=4, dim=8)

    # the logically-final corpus after all upserts
    final = spark.createDataFrame(
        [(i, 0, vec(float(i))) for i in range(24) if i not in (3, 5)]
        + [(3, 2, vec(77.0)), (100, 2, vec(100.0)), (5, 3, vec(500.0))],
        "vec_id long, seq long, embedding array<double>",
    )
    rebuilt = ivf_assign(final, cent, dim=8)

    got = sorted(
        (r.vec_id, r.centroid_id, tuple(round(x, 12) for x in r.c_emb))
        for r in table.read().collect()
    )
    want = sorted(
        (r.vec_id, r.centroid_id, tuple(round(x, 12) for x in r.c_emb))
        for r in rebuilt.collect()
    )
    assert got == want

    queries = final.filter(F.col("vec_id") < 3)
    served_merged = ivf_topk(
        final, queries, k=2, nprobe=2, dim=8,
        centroids=cent, assigned=table.read(),
    )
    served_rebuilt = ivf_topk(
        final, queries, k=2, nprobe=2, dim=8,
        centroids=cent, assigned=rebuilt,
    )
    a = sorted(map(tuple, served_merged.collect()))
    b = sorted(map(tuple, served_rebuilt.collect()))
    assert a == b and len(a) > 0


def test_incremental_upsert_table_lww_and_tombstones(spark, tmp_path):
    """IncrementalUpsertTable unit semantics: max-seq wins regardless
    of merge order; replays are idempotent; tombstones hide keys from
    read() but stay visible with include_tombstones."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalUpsertTable,
    )

    t = IncrementalUpsertTable(
        spark,
        str(tmp_path / "u"),
        keys=["k"],
        seq_col="seq",
        tombstone_col="dead",
    )
    schema = "k long, seq long, v string, dead boolean"
    t.merge_batch(
        spark.createDataFrame([(1, 3, "newest", False)], schema), 0
    )
    t.merge_batch(
        spark.createDataFrame(
            [(1, 1, "stale", False), (2, 1, "b", False)], schema
        ),
        1,
    )
    t.merge_batch(
        spark.createDataFrame([(2, 2, None, True)], schema), 2
    )  # delete key 2
    t.merge_batch(
        spark.createDataFrame([(2, 2, None, True)], schema), 2
    )  # replay
    got = {(r.k): (r.seq, r.v) for r in t.read().collect()}
    assert got == {1: (3, "newest")}
    with_dead = {
        (r.k): (r.seq, r.dead) for r in t.read(include_tombstones=True).collect()
    }
    assert with_dead == {1: (3, False), 2: (2, True)}


def test_incremental_ivf_index_stream_end_to_end(spark, tmp_path):
    """The streaming wrapper: embedding-delta FILES → foreachBatch →
    maintained inverted file. Two files (initial corpus, then an
    update + an insert) processed as separate micro-batches must leave
    the table equal to a fresh ivf_assign of the final corpus."""
    import math

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
        ivf_centroid_rows,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        incremental_ivf_index_stream,
        ivf_index_table,
    )

    def vec(seed: float):
        return [math.sin((seed + 1.3) * (j + 1) * 0.7) for j in range(8)]

    schema = "vec_id long, seq long, embedding array<double>"
    src = str(tmp_path / "emb_files")
    base_rows = [(i, 0, vec(float(i))) for i in range(12)]
    spark.createDataFrame(base_rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    cent = ivf_centroid_rows(spark.createDataFrame(base_rows, schema), 3)

    q = incremental_ivf_index_stream(
        spark,
        src,
        str(tmp_path / "ivf"),
        str(tmp_path / "ckpt"),
        cent,
        dim=8,
        schema=schema,
    )
    try:
        q.processAllAvailable()
        upd = [(4, 1, vec(44.0)), (50, 1, vec(50.0))]
        spark.createDataFrame(upd, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    final = spark.createDataFrame(
        [r for r in base_rows if r[0] != 4] + upd, schema
    )
    want = sorted(
        (r.vec_id, r.centroid_id) for r in ivf_assign(final, cent, dim=8).collect()
    )
    got = sorted(
        (r.vec_id, r.centroid_id)
        for r in ivf_index_table(spark, str(tmp_path / "ivf")).read().collect()
    )
    assert got == want and len(got) == 13


def test_index_scheme_stamp_resolves_file_uri(spark, tmp_path, monkeypatch):
    """A maintained index addressed by a ``file:///`` URI stamps its
    ``_scheme.json`` beside the generation chain's ``CURRENT``, and
    read_index_scheme reads it back through the same URI — nothing
    lands under the working directory."""
    import math
    import os

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_centroid_rows,
        ivf_codebook_scheme,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        incremental_ivf_index_stream,
        read_index_scheme,
    )

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    schema = "vec_id long, seq long, embedding array<double>"
    rows = [
        (i, 0, [math.sin((i + 1.3) * (j + 1) * 0.7) for j in range(8)])
        for i in range(6)
    ]
    src = str(tmp_path / "emb_files")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    cent = ivf_centroid_rows(spark.createDataFrame(rows, schema), 2)
    idx = tmp_path / "idx"
    uri = "file://" + str(idx)
    q = incremental_ivf_index_stream(
        spark, src, uri, str(tmp_path / "ckpt"), cent, dim=8, schema=schema
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert (idx / "CURRENT").exists() and (idx / "_scheme.json").exists()
    assert read_index_scheme(uri) == ivf_codebook_scheme(cent)
    assert read_index_scheme(str(idx)) == read_index_scheme(uri)
    assert os.listdir(cwd) == []


def test_incremental_band_index_parity_with_batch_lsh(spark, tmp_path):
    """Dedup-on-ingest: the streamed MinHash band index, scored with
    lsh_pairs_from_bands, must equal batch minhash_lsh_pairs over the
    same documents — under a 2-file split and again after a late third
    file, including a cross-file near-dup pair (the case an ingest-time
    dedup exists for)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        lsh_pairs_from_bands,
        minhash_lsh_pairs,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_band_index_stream,
    )

    A = "the quick brown fox jumps over the lazy dog and runs far away today"
    A2 = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    B = "completely different text about spark query engines and big data systems"
    schema = "doc_id long, text string"
    b1 = [(1, A), (3, B)]
    b2 = [(4, A)]            # exact dup of 1, lands in a LATER file
    b3 = [(2, A2), (10, B)]  # late near-dup of 1 + exact dup of 3
    src = str(tmp_path / "docs")

    def batch_pairs(rows):
        return sorted(
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_pairs(
                spark.createDataFrame(rows, schema)
            ).collect()
        )

    def index_pairs():
        table = IncrementalCountTable(
            spark, str(tmp_path / "tbl"), ["doc_id", "band", "band_hash"]
        )
        return sorted(
            (r.doc_a, r.doc_b)
            for r in lsh_pairs_from_bands(table.read()).collect()
        )

    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_band_index_stream(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert index_pairs() == batch_pairs(b1 + b2)
        assert (1, 4) in index_pairs()  # cross-file exact dup found
        spark.createDataFrame(b3, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = index_pairs()
    assert got == batch_pairs(b1 + b2 + b3)
    assert (1, 2) in got and (3, 10) in got


def test_new_doc_dup_candidates_against_streamed_index(spark, tmp_path):
    """Ingest-time scoring: banding ONLY the new batch against the
    maintained index finds its duplicates without re-banding the
    corpus, and agrees with the full-pair view restricted to the new
    ids."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        lsh_pairs_from_bands,
        new_doc_dup_candidates,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_band_index_stream,
        read_index_scheme,
    )

    A = "the quick brown fox jumps over the lazy dog and runs far away today"
    A2 = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    B = "completely different text about spark query engines and big data systems"
    schema = "doc_id long, text string"
    src = str(tmp_path / "docs")
    spark.createDataFrame([(1, A), (3, B)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = incremental_band_index_stream(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    table = IncrementalCountTable(
        spark, str(tmp_path / "tbl"), ["doc_id", "band", "band_hash"]
    )
    index = table.read()
    # round 12: stamp-less calls refuse by default — the stream-built
    # index carries its _scheme.json, so scoring passes the stamp
    stamp = read_index_scheme(str(tmp_path / "tbl"))
    new = spark.createDataFrame([(20, A2), (21, "unrelated fresh text")], schema)
    got = sorted(
        (r.new_doc_id, r.doc_id)
        for r in new_doc_dup_candidates(index, new, scheme=stamp).collect()
    )
    assert got == [(20, 1)]
    # consistency with the full-pair view over index ∪ new bands
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        minhash_bands,
    )

    full = lsh_pairs_from_bands(
        index.select("doc_id", "band", "band_hash").unionByName(
            minhash_bands(new)
        )
    )
    restricted = sorted(
        (max(r.doc_a, r.doc_b), min(r.doc_a, r.doc_b))
        for r in full.collect()
        if r.doc_a in (20, 21) or r.doc_b in (20, 21)
    )
    assert restricted == got

    # replayed-file cases (round-7 review fix): each relationship
    # must appear exactly once, never in both orientations
    # (a) genuinely-new doc 30 (near-dup of indexed 1) alongside a
    # re-ingest of 1: the (30,1) pair has no mirror and is kept even
    # though 30 > 1; no (1,1) self-match
    replay = spark.createDataFrame([(1, A), (30, A2)], schema)
    got2 = sorted(
        (r.new_doc_id, r.doc_id)
        for r in new_doc_dup_candidates(index, replay, scheme=stamp).collect()
    )
    assert got2 == [(30, 1)], got2
    # (b) grow the index to hold near-dups 1 and 2, then replay BOTH:
    # both orientations would match; only the smaller-id one survives
    idx2 = index.select("doc_id", "band", "band_hash").unionByName(
        minhash_bands(spark.createDataFrame([(2, A2)], schema))
    )
    both = spark.createDataFrame([(1, A), (2, A2)], schema)
    got3 = sorted(
        (r.new_doc_id, r.doc_id)
        for r in new_doc_dup_candidates(
            idx2, both, trust_banding=True
        ).collect()
    )
    assert got3 == [(1, 2)], got3
    # (c) two near-dups arriving in the SAME batch, neither indexed:
    # the within-batch term surfaces them without a merge-first step
    fresh = spark.createDataFrame([(50, A), (51, A2), (52, B)], schema)
    empty_ix = index.filter("1 = 0").select("doc_id", "band", "band_hash")
    got4 = sorted(
        (r.new_doc_id, r.doc_id)
        for r in new_doc_dup_candidates(
            empty_ix, fresh, trust_banding=True
        ).collect()
    )
    assert got4 == [(50, 51)], got4


def test_band_index_retention_parity_across_compaction(spark, tmp_path):
    """Round-8 retention (VERDICT r7 #3): with retention_epochs set,
    the streamed band index is compacted mid-stream to the sliding
    delivery-window — docs last delivered before the horizon leave the
    index, re-delivered docs slide forward, and every surviving doc's
    band rows stay EXACTLY the batch minhash_bands of its text
    (parity across the compaction, not merely after it)."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        minhash_bands,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_band_index_stream,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog and runs far away",
        2: "completely different text about spark query engines and data",
        3: "a third document with its own unrelated words entirely here",
        4: "fourth text carrying novel content for the later window now",
        5: "fifth and final document arriving in the last delivery epoch",
    }
    schema = "doc_id long, text string"
    src = str(tmp_path / "docs")
    # six single-file deliveries → epochs 0..5; doc 1 is re-delivered
    # at epoch 3 (slides forward past the horizon), doc 2 is only in
    # epoch 0 (must age out)
    files = [[1, 2], [3], [1], [1, 4], [4], [5]]
    spark.createDataFrame(
        [(d, texts[d]) for d in files[0]], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = incremental_band_index_stream(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        retention_epochs=2, compact_every=2,
    )
    try:
        q.processAllAvailable()
        for batch in files[1:]:
            spark.createDataFrame(
                [(d, texts[d]) for d in batch], schema
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    table = IncrementalCountTable(
        spark,
        str(tmp_path / "tbl"),
        ["doc_id", "band", "band_hash"],
        max_measures=("last_epoch",),
    )
    final = table.read()
    by_doc = {
        r.doc_id: r.last_epoch
        for r in final.groupBy("doc_id").agg(
            F.max("last_epoch").alias("last_epoch")
        ).collect()
    }
    e_max = max(by_doc.values())
    # true last-delivery epoch per doc, from the file plan (epoch == file
    # index: single-file triggers in write order)
    last_delivery = {}
    for epoch, batch in enumerate(files):
        for d in batch:
            last_delivery[d] = epoch
    # every doc too old at the LAST compaction (epoch 4, horizon 2) is
    # out; every doc delivered at/after it is in; the re-delivered doc 1
    # (last at 3) survived the epoch-4 compaction
    assert 2 not in by_doc            # only epoch 0: aged out
    assert 1 in by_doc and by_doc[1] == 3
    assert {4, 5} <= set(by_doc)
    assert e_max == 5
    # parity: surviving docs' band rows == batch bands of their texts
    survivors = sorted(by_doc)
    got = sorted(
        (r.doc_id, r.band, r.band_hash)
        for r in final.select("doc_id", "band", "band_hash").collect()
    )
    want = sorted(
        (r.doc_id, r.band, r.band_hash)
        for r in minhash_bands(
            spark.createDataFrame(
                [(d, texts[d]) for d in survivors], schema
            )
        ).collect()
    )
    assert got == want


def test_upsert_tombstone_compaction_and_resurrection(spark, tmp_path):
    """compact_tombstones drops only dead tombstones (seq < horizon):
    the served view is unchanged by construction, the physical table
    shrinks, a post-horizon re-insert still resurrects its key, and a
    replay of the in-flight epoch straight after compaction converges
    to the same served view (the generation chain's parent survives
    compaction)."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_centroid_rows,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        ivf_index_table,
        ivf_index_upsert,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(1, 5)],
        "vec_id long, embedding array<double>",
    )
    cent = ivf_centroid_rows(emb, 2)
    table = ivf_index_table(spark, str(tmp_path / "ivf"))
    ivf_index_upsert(
        table, emb.withColumn("seq", F.lit(0).cast("long")), cent, epoch_id=0
    )
    delete = spark.createDataFrame(
        [(2, 1, [2.0, 1.0, 0.0, 0.0], True)],
        "vec_id long, seq long, embedding array<double>, deleted boolean",
    )
    ivf_index_upsert(table, delete, cent, epoch_id=1)
    assert sorted(r.vec_id for r in table.read().collect()) == [1, 3, 4]
    assert table.read(include_tombstones=True).count() == 4
    table.compact_tombstones(horizon_seq=2)
    # physical drop of the dead tombstone; served view unchanged
    assert table.read(include_tombstones=True).count() == 3
    assert sorted(r.vec_id for r in table.read().collect()) == [1, 3, 4]
    # replay of the in-flight epoch right after compaction converges
    ivf_index_upsert(table, delete, cent, epoch_id=1)
    assert sorted(r.vec_id for r in table.read().collect()) == [1, 3, 4]
    # post-horizon re-insert resurrects the key
    reinsert = spark.createDataFrame(
        [(2, 5, [2.0, 1.0, 0.0, 0.0], False)],
        "vec_id long, seq long, embedding array<double>, deleted boolean",
    )
    ivf_index_upsert(table, reinsert, cent, epoch_id=2)
    assert sorted(r.vec_id for r in table.read().collect()) == [1, 2, 3, 4]


def test_count_table_plain_compact_is_identity(spark, tmp_path):
    """compact(None) is a pure rewrite: same rows, and the next merge
    chains onto the compacted generation."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
    )

    t = IncrementalCountTable(spark, str(tmp_path / "t"), ["k"])
    d = spark.createDataFrame([(1, 2), (2, 3)], "k long, cnt long")
    t.merge_batch(d, 0)
    before = sorted(map(tuple, t.read().collect()))
    t.compact(None)
    assert sorted(map(tuple, t.read().collect())) == before
    t.merge_batch(spark.createDataFrame([(1, 5)], "k long, cnt long"), 1)
    assert sorted(map(tuple, t.read().collect())) == [(1, 7), (2, 3)]


def _mk_delta(spark, rows):
    return spark.createDataFrame(rows, "hour string, region int, cnt long")


def test_partitioned_table_parity_and_narrowing(spark, tmp_path):
    """PartitionedIncrementalCountTable (round 8): (1) state parity
    with the monolithic chain over identical deltas under any epoch
    boundaries, late data to an OLD partition included; (2) the
    narrowing evidence — a merge touching one partition REUSES every
    other partition's directory verbatim in the new manifest (no
    rewrite, not merely 'fast'); (3) replay of the in-flight epoch
    converges; (4) GC never breaks read()."""
    import json as _json
    import os as _os

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        PartitionedIncrementalCountTable,
    )

    keys = ["hour", "region"]
    mono = IncrementalCountTable(spark, str(tmp_path / "mono"), keys)
    part = PartitionedIncrementalCountTable(
        spark, str(tmp_path / "part"), keys, partition_col="hour"
    )
    epochs = [
        [("h01", 1, 2), ("h01", 2, 1)],
        [("h02", 1, 5)],
        [("h03", 1, 1), ("h01", 1, 7)],   # late row into old h01
        [("h04", 9, 4)],
    ]

    def state(t):
        return sorted(map(tuple, t.read().collect()))

    def manifest_parts(t):
        with open(_os.path.join(t.path, "CURRENT")) as f:
            ptr = _json.load(f)
        with open(_os.path.join(t.path, ptr["gen"])) as f:
            return _json.load(f)["parts"]

    for e, rows in enumerate(epochs):
        d = _mk_delta(spark, rows)
        mono.merge_batch(d, e)
        part.merge_batch(d, e)
        assert state(part) == state(mono), f"epoch {e}"
        if e == 1:
            parts_before = manifest_parts(part)
    # epoch 2 touched h03 (new) and h01 (late); h02's dir must be the
    # SAME path as before epoch 2 — reused, not rewritten
    parts_after = manifest_parts(part)
    assert parts_after["h02"] == parts_before["h02"]
    assert parts_after["h01"] != parts_before["h01"]
    # replay of the last epoch: pointer already advanced → rebase on
    # parent; state must converge to the same table
    want = state(part)
    part.merge_batch(_mk_delta(spark, epochs[-1]), len(epochs) - 1)
    assert state(part) == want
    # GC has been running throughout (retain=2); read still works and
    # only referenced generation dirs remain
    live = {
        rel.split(_os.sep)[0] for rel in manifest_parts(part).values()
    }
    on_disk = {
        d for d in _os.listdir(part.path) if d.startswith("gen_")
    }
    assert live <= on_disk
    assert state(part) == state(mono)


def test_partitioned_table_compact_retention(spark, tmp_path):
    """Partition-level retention: compact() drops rows the predicate
    rejects and removes emptied partitions from the manifest; the
    next merge chains onto the compacted manifest."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        PartitionedIncrementalCountTable,
    )

    t = PartitionedIncrementalCountTable(
        spark, str(tmp_path / "p"), ["hour", "region"], partition_col="hour"
    )
    t.merge_batch(_mk_delta(spark, [("h01", 1, 2), ("h02", 1, 3)]), 0)
    t.merge_batch(_mk_delta(spark, [("h03", 1, 4)]), 1)
    t.compact(F.col("hour") >= "h02")
    assert sorted(r.hour for r in t.read().collect()) == ["h02", "h03"]
    t.merge_batch(_mk_delta(spark, [("h02", 1, 10)]), 2)
    got = {(r.hour, r.region): r.cnt for r in t.read().collect()}
    assert got == {("h02", 1): 13, ("h03", 1): 4}


def test_safe_part_injective():
    """The partition-dir encoding must be injective: values that
    differ only by an escape-lookalike ('a b' vs literal 'ax20b')
    must never claim the same directory (silent row clobbering)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        _safe_part,
    )

    values = ["a b", "ax20b", "a_b", "x", "xx", "x20", " ", "__null__",
              "2024-03-01 13:00:00", "h01"]
    encoded = [_safe_part(v) for v in values]
    assert len(set(encoded)) == len(values), encoded
    assert all("/" not in e and " " not in e for e in encoded)


def test_count_table_schema_upgrade_merges(spark, tmp_path):
    """A table written BEFORE a new max/min measure existed must stay
    mergeable after the upgrade: the old generation's missing column
    rides as NULL (ignored by max), never an AnalysisException."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
    )

    path = str(tmp_path / "t")
    old = IncrementalCountTable(spark, path, ["k"])
    old.merge_batch(spark.createDataFrame([(1, 2)], "k long, cnt long"), 0)
    new = IncrementalCountTable(
        spark, path, ["k"], max_measures=("last_epoch",)
    )
    new.merge_batch(
        spark.createDataFrame(
            [(1, 3, 5), (2, 1, 5)], "k long, cnt long, last_epoch long"
        ),
        1,
    )
    got = {r.k: (r.cnt, r.last_epoch) for r in new.read().collect()}
    assert got == {1: (5, 5), 2: (1, 5)}
    # a delta MISSING a column the table has is a bug, not an upgrade
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        new.merge_batch(spark.createDataFrame([(3, 1)], "k long, cnt long"), 2)


def test_incremental_od_stream_partitioned_parity(spark, tmp_path):
    """partitioned=True (round 8): the hour-partitioned OD table must
    equal the batch od_matrix under a late-earlier-hour file — the
    same contract as the monolithic mode, with merges narrowed to the
    touched hour partitions."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.od import (
        od_matrix,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        PartitionedIncrementalCountTable,
        incremental_od_stream,
    )

    schema = (
        "user_id long, region_id int, hour timestamp, "
        "pre_hour timestamp, pre_region_id int"
    )
    h9 = ts("2024-01-01 09:00:00")
    h10, h11 = ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")
    b1 = [(1, 5, h10, h9, 4), (2, 5, h10, h9, 4), (1, 6, h11, h10, 5)]
    b2 = [(4, 4, h9, ts("2024-01-01 08:00:00"), 0), (4, 5, h10, h9, 4)]
    src = str(tmp_path / "edges")
    tbl = str(tmp_path / "od_part")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_od_stream(
        spark, src, tbl, str(tmp_path / "ckpt"), partitioned=True
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    t = PartitionedIncrementalCountTable(
        spark, tbl, ["hour", "orig", "dest"], partition_col="hour"
    )
    got = {
        (r.hour, r.orig, r.dest): r.cnt for r in t.read().collect()
    }
    want = {
        (r.hour, r.orig, r.dest): r.cnt
        for r in od_matrix(spark.createDataFrame(b1 + b2, schema)).collect()
    }
    assert got == want and (h9, 0, 4) in got


def test_partitioned_vs_monolithic_property(spark, tmp_path):
    """Randomized-sequence equivalence for the partition-narrowed
    chain: over md5-seeded random delta sequences (random partitions,
    keys, counts), with every epoch optionally REPLAYED and a
    compaction injected mid-sequence, the partitioned table must equal
    the monolithic table after every single step. Deterministic
    seeds (no RNG state) — failures reproduce exactly."""
    import hashlib

    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        PartitionedIncrementalCountTable,
    )

    def h(*parts) -> int:
        return int(
            hashlib.md5(":".join(map(str, parts)).encode()).hexdigest()[:8],
            16,
        )

    for case in range(3):
        mono = IncrementalCountTable(
            spark, str(tmp_path / f"m{case}"), ["p", "k"]
        )
        part = PartitionedIncrementalCountTable(
            spark, str(tmp_path / f"p{case}"), ["p", "k"], partition_col="p"
        )
        n_epochs = 4 + case
        for e in range(n_epochs):
            rows = [
                (
                    f"p{h(case, e, i, 'part') % 4}",
                    h(case, e, i, "key") % 5,
                    1 + h(case, e, i, "cnt") % 3,
                )
                for i in range(1 + h(case, e, "n") % 6)
            ]
            d = spark.createDataFrame(rows, "p string, k long, cnt long")
            mono.merge_batch(d, e)
            part.merge_batch(d, e)
            if h(case, e, "replay") % 3 == 0:  # replay the same epoch
                mono.merge_batch(d, e)
                part.merge_batch(d, e)
            if e == n_epochs // 2:  # mid-sequence retention compaction
                keep = F.col("p") != "p0"
                mono.compact(keep)
                part.compact(keep)
            got = sorted(map(tuple, part.read().collect()))
            want = sorted(map(tuple, mono.read().collect()))
            assert got == want, (case, e)


def test_safe_part_injective_unicode():
    """Variable-width escapes were a collision channel: an em dash
    (utf-8 e2 80 94) must not encode identically to ' 14'
    (space + '14') — per-byte fixed-width escapes make every escape
    exactly x+2 hex digits."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        _safe_part,
    )

    assert _safe_part("—") != _safe_part(" 14")
    values = ["—", " 14", "x2014", "上海", "aéb", "aéb"]
    enc = [_safe_part(v) for v in values]
    assert len(set(enc)) == len(values), enc
    assert all(c.isascii() and c not in "/ " for e in enc for c in e)


def test_partitioned_schema_upgrade_and_format_guards(spark, tmp_path):
    """(1) A partitioned table written before a new measure existed
    stays readable AND compactable after the upgrade even while some
    partitions still carry the old schema (mergeSchema read + aligned
    compaction). (2) Flipping the table class on an existing path
    fails with a clear migration error, not an obscure I/O crash."""
    import pytest
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        PartitionedIncrementalCountTable,
    )

    path = str(tmp_path / "pt")
    old = PartitionedIncrementalCountTable(
        spark, path, ["p", "k"], partition_col="p"
    )
    old.merge_batch(
        spark.createDataFrame([("h01", 1, 2), ("h02", 1, 3)], "p string, k long, cnt long"),
        0,
    )
    new = PartitionedIncrementalCountTable(
        spark,
        path,
        ["p", "k"],
        partition_col="p",
        max_measures=("last_epoch",),
    )
    # upgrade merge touches ONLY h02; h01 keeps the old schema on disk
    new.merge_batch(
        spark.createDataFrame(
            [("h02", 1, 1, 7)], "p string, k long, cnt long, last_epoch long"
        ),
        1,
    )
    got = {(r.p, r.k): (r.cnt, r.last_epoch) for r in new.read().collect()}
    assert got == {("h01", 1): (2, None), ("h02", 1): (4, 7)}
    # retention predicate naming the NEW column must not raise on the
    # old-schema h01 partition; NULL last_epoch rows age out
    new.compact(F.col("last_epoch") >= 0)
    assert {(r.p, r.k) for r in new.read().collect()} == {("h02", 1)}
    # format-flip guards, both directions
    with pytest.raises(ValueError, match="migration"):
        IncrementalCountTable(spark, path, ["p", "k"]).read()
    mono_path = str(tmp_path / "mono")
    mono = IncrementalCountTable(spark, mono_path, ["k"])
    mono.merge_batch(spark.createDataFrame([(1, 1)], "k long, cnt long"), 0)
    with pytest.raises(ValueError, match="migration"):
        PartitionedIncrementalCountTable(
            spark, mono_path, ["k"], partition_col="k"
        ).read()


def test_partitioned_timestamp_keys_timezone_stable(spark, tmp_path):
    """Timestamp partition keys must not depend on
    spark.sql.session.timeZone: merges for the same instant under two
    session timezones must land in ONE partition (a string-rendered
    key would fork the hour and serve duplicate key rows)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        PartitionedIncrementalCountTable,
    )

    t = PartitionedIncrementalCountTable(
        spark, str(tmp_path / "tz"), ["hour", "k"], partition_col="hour"
    )
    rows = [("2024-01-01 09:00:00", 1, 2)]
    schema = "hour_s string, k long, cnt long"
    from pyspark.sql import functions as F

    def delta():
        return spark.createDataFrame(rows, schema).select(
            F.to_timestamp("hour_s").alias("hour"), "k", "cnt"
        )

    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        d0 = delta().localCheckpoint(eager=True)  # parse under UTC
        t.merge_batch(d0, 0)
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # same INSTANT (checkpointed micros), new session timezone
        t.merge_batch(d0, 1)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    out = t.read().collect()
    assert len(out) == 1 and out[0].cnt == 4, out


def test_concurrent_writer_lock(spark, tmp_path):
    """Round-9 (VERDICT r8 #3): the generation chain is single-writer
    by construction — a second LIVE writer must fail loudly, a lock
    left by a dead same-host pid must be broken automatically (a
    streaming restart after a mid-merge crash replays its epoch), and
    a foreign-host lock is never broken without force_unlock()."""
    import json as _json
    import os as _os

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        ConcurrentWriterError,
        IncrementalCountTable,
        PartitionedIncrementalCountTable,
    )
    import pytest
    import socket as _socket

    for t in (
        IncrementalCountTable(spark, str(tmp_path / "m"), ["k"]),
        PartitionedIncrementalCountTable(
            spark, str(tmp_path / "p"), ["k"], partition_col="k"
        ),
    ):
        d = spark.createDataFrame([("a", 1)], "k string, cnt long")
        t.merge_batch(d, 0)  # lock acquired and released
        assert not _os.path.exists(t._lock_path())
        _os.makedirs(t.path, exist_ok=True)
        # live same-host writer (our own pid): refuse
        with open(t._lock_path(), "w") as f:
            _json.dump(
                {"pid": _os.getpid(), "host": _socket.gethostname()}, f
            )
        with pytest.raises(ConcurrentWriterError):
            t.merge_batch(d, 1)
        with pytest.raises(ConcurrentWriterError):
            t.compact()
        # dead same-host pid: broken automatically, merge proceeds
        dead = 1
        while True:
            dead += 7919
            try:
                _os.kill(dead, 0)
            except ProcessLookupError:
                break
            except PermissionError:
                continue
        with open(t._lock_path(), "w") as f:
            _json.dump({"pid": dead, "host": _socket.gethostname()}, f)
        t.merge_batch(d, 1)
        assert {r.cnt for r in t.read().collect()} == {2}
        # foreign host: never auto-broken
        with open(t._lock_path(), "w") as f:
            _json.dump({"pid": dead, "host": "some-other-host"}, f)
        with pytest.raises(ConcurrentWriterError):
            t.merge_batch(d, 2)
        t.force_unlock()
        t.merge_batch(d, 2)
        assert {r.cnt for r in t.read().collect()} == {3}


def test_stale_lock_break_is_atomic(spark, tmp_path, monkeypatch):
    """Round-10 (ADVICE r9): two writers racing crash recovery must
    not both proceed. The stale break renames the lock inode to a
    unique tombstone and re-verifies the owner record — if a faster
    breaker already broke the stale lock and re-acquired, the thief
    must RESTORE the fresh lock (same inode) and fail loudly, never
    remove it."""
    import json as _json
    import os as _os
    import socket as _socket

    import pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        ConcurrentWriterError,
        IncrementalCountTable,
    )

    t = IncrementalCountTable(spark, str(tmp_path / "m"), ["k"])
    d = spark.createDataFrame([("a", 1)], "k string, cnt long")
    t.merge_batch(d, 0)
    lock = t._lock_path()
    dead = 1
    while True:
        dead += 7919
        try:
            _os.kill(dead, 0)
        except ProcessLookupError:
            break
        except PermissionError:
            continue
    fresh = {
        "pid": _os.getpid(),
        "host": _socket.gethostname(),
        "ts": "2026-01-01T00:00:00",
    }

    # --- race 1: between our read (stale) and our rename, a faster
    # breaker replaced the lock with its own FRESH one. Emulate by
    # swapping in the fresh content inside the rename call.
    with open(lock, "w") as f:
        _json.dump({"pid": dead, "host": _socket.gethostname()}, f)
    real_rename = _os.rename

    def racing_rename(src, dst, *a, **kw):
        if src == lock:
            with open(lock, "w") as f:
                _json.dump(fresh, f)
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(_os, "rename", racing_rename)
    with pytest.raises(ConcurrentWriterError):
        t.merge_batch(d, 1)
    monkeypatch.setattr(_os, "rename", real_rename)
    # the fresh lock survived the lost race, no tombstone debris
    with open(lock) as f:
        assert _json.load(f) == fresh
    assert [p for p in _os.listdir(t.path) if ".tomb." in p] == []
    _os.remove(lock)

    # --- race 2: the stale lock vanishes between read and rename
    # (the other breaker renamed it away and has not re-acquired):
    # the loser's rename fails, it re-contends and wins cleanly.
    with open(lock, "w") as f:
        _json.dump({"pid": dead, "host": _socket.gethostname()}, f)

    def vanishing_rename(src, dst, *a, **kw):
        if src == lock:
            _os.remove(lock)
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(_os, "rename", vanishing_rename)
    t.merge_batch(d, 1)
    monkeypatch.setattr(_os, "rename", real_rename)
    assert {r.cnt for r in t.read().collect()} == {2}
    assert not _os.path.exists(lock)


def test_non_file_uri_path_refused(spark, tmp_path):
    """Round-10 (VERDICT r9 #4): the writer lock's O_EXCL/rename/link
    protocol is only atomic on local/NFSv4-class filesystems — an
    object-store path must be refused at construction; a file:// URI
    is accepted and normalized to the plain path."""
    import pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        PartitionedIncrementalCountTable,
    )

    for bad in ("s3://bucket/tbl", "gs://b/t", "abfss://c@a.dfs.x/t"):
        with pytest.raises(ValueError, match="does not lock"):
            IncrementalCountTable(spark, bad, ["k"])
        with pytest.raises(ValueError, match="does not lock"):
            PartitionedIncrementalCountTable(
                spark, bad, ["k"], partition_col="k"
            )
    t = IncrementalCountTable(
        spark, "file://" + str(tmp_path / "m"), ["k"]
    )
    assert t.path == str(tmp_path / "m")
    d = spark.createDataFrame([("a", 1)], "k string, cnt long")
    t.merge_batch(d, 0)
    assert {r.cnt for r in t.read().collect()} == {1}
    # the single-slash Hadoop spelling normalizes to the same path
    # (review finding: it used to bypass both the refusal and the
    # strip, putting the lock and the data in different directories)
    t2 = IncrementalCountTable(spark, "file:" + str(tmp_path / "m"), ["k"])
    assert t2.path == str(tmp_path / "m")
    # an authority component is not a local path — refused
    with pytest.raises(ValueError, match="authority"):
        IncrementalCountTable(spark, "file://localhost/data/tbl", ["k"])
    # single-slash object-store spelling refused like the // form
    with pytest.raises(ValueError, match="does not lock"):
        IncrementalCountTable(spark, "s3:/bucket/tbl", ["k"])


def test_sum_measure_upgrade_refused(spark, tmp_path):
    """Round-9 ADVICE: a schema upgrade that adds a SUM measure is
    refused (pre-upgrade keys would merge to NULL, not 0 — a silent
    semantic hole); min/max-measure upgrades still merge (NULL-safe
    by aggregate semantics)."""
    import pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
    )

    t0 = IncrementalCountTable(spark, str(tmp_path / "t"), ["k"])
    t0.merge_batch(spark.createDataFrame([("a", 1)], "k string, cnt long"), 0)
    # reopen with an upgraded schema: cnt + a NEW sum measure
    t1 = IncrementalCountTable(
        spark, str(tmp_path / "t"), ["k"], measures=("cnt", "amount")
    )
    with pytest.raises(ValueError, match="SUM measure 'amount'"):
        t1.merge_batch(
            spark.createDataFrame(
                [("a", 1, 10)], "k string, cnt long, amount long"
            ),
            1,
        )
    # a new MAX measure upgrade is fine and NULL-merges correctly
    t2 = IncrementalCountTable(
        spark,
        str(tmp_path / "t"),
        ["k"],
        measures=("cnt",),
        max_measures=("last_epoch",),
    )
    t2.merge_batch(
        spark.createDataFrame(
            [("a", 1, 5), ("b", 2, 5)],
            "k string, cnt long, last_epoch long",
        ),
        1,
    )
    got = {(r.k): (r.cnt, r.last_epoch) for r in t2.read().collect()}
    assert got == {"a": (2, 5), "b": (2, 5)}


def test_gc_fails_closed_on_corrupt_kept_manifest(spark, tmp_path):
    """Round-9 ADVICE (medium): if a KEPT manifest cannot be parsed,
    GC must abort the generation-dir deletion pass — continuing with
    a partial referenced set would rmtree dirs a live manifest points
    at (transient read error → permanent data loss)."""
    import json as _json
    import os as _os

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        PartitionedIncrementalCountTable,
    )

    t = PartitionedIncrementalCountTable(
        spark, str(tmp_path / "p"), ["hour", "region"], partition_col="hour"
    )
    for e in range(4):
        t.merge_batch(_mk_delta(spark, [(f"h{e:02d}", 1, e + 1)]), e)
    with open(_os.path.join(t.path, "CURRENT")) as f:
        cur = _json.load(f)["gen"]
    dirs_before = {
        d for d in _os.listdir(t.path) if d.startswith("gen_")
    }
    # corrupt the CURRENT manifest, then run a GC that keeps it
    with open(_os.path.join(t.path, cur), "w") as f:
        f.write("{not json")
    t._gc(keep_manifests={cur})
    dirs_after = {d for d in _os.listdir(t.path) if d.startswith("gen_")}
    assert dirs_after == dirs_before  # nothing deleted: failed closed


def test_bulk_backfill_fallback_parity(spark, tmp_path):
    """Round-9 (VERDICT r8 #4): a delta touching more than
    bulk_threshold partitions merges via ONE partitionBy job instead
    of one filtered write per partition — state parity with the
    narrow path pinned across wide/narrow/late/replay epochs, the
    manifest's 1:1 pv→dir invariant preserved (every referenced dir
    exists and holds only its pv's rows), untouched-dir reuse intact,
    and compaction works across mixed narrow/bulk generations."""
    import json as _json
    import os as _os

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        PartitionedIncrementalCountTable,
    )
    from pyspark.sql import functions as F

    keys = ["hour", "region"]
    narrow = PartitionedIncrementalCountTable(
        spark, str(tmp_path / "n"), keys, partition_col="hour",
        bulk_threshold=10_000,
    )
    bulk = PartitionedIncrementalCountTable(
        spark, str(tmp_path / "b"), keys, partition_col="hour",
        bulk_threshold=2,
    )

    def state(t):
        return sorted(map(tuple, t.read().collect()))

    def manifest_parts(t):
        with open(_os.path.join(t.path, "CURRENT")) as f:
            ptr = _json.load(f)
        with open(_os.path.join(t.path, ptr["gen"])) as f:
            return _json.load(f)["parts"]

    wide0 = [(f"h{i:02d}", i % 3, i + 1) for i in range(6)]
    narrow1 = [("h03", 1, 10)]
    wide2 = [(f"h{i:02d}", 7, 2) for i in range(1, 9)]  # late + new pvs
    for e, rows in enumerate([wide0, narrow1, wide2]):
        d = _mk_delta(spark, rows)
        narrow.merge_batch(d, e)
        bulk.merge_batch(d, e)
        assert state(bulk) == state(narrow), f"epoch {e}"
    parts = manifest_parts(bulk)
    # epoch 0 and 2 were bulk writes; their dirs are per-pv __pv= dirs
    assert any("__pv=" in rel for rel in parts.values())
    assert len(set(parts.values())) == len(parts)  # 1:1 pv -> dir
    for pv, rel in parts.items():
        p = _os.path.join(bulk.path, rel)
        assert _os.path.isdir(p)
        vals = {
            r.hour for r in spark.read.parquet(p).select("hour").collect()
        }
        assert vals == {pv}, (pv, rel, vals)
    # untouched-dir reuse across a narrow epoch on top of a bulk gen:
    # h00 was written in epoch 0 (bulk) and untouched by epoch 1
    bulk2 = PartitionedIncrementalCountTable(
        spark, str(tmp_path / "b2"), keys, partition_col="hour",
        bulk_threshold=2,
    )
    bulk2.merge_batch(_mk_delta(spark, wide0), 0)
    before = manifest_parts(bulk2)
    bulk2.merge_batch(_mk_delta(spark, narrow1), 1)
    after = manifest_parts(bulk2)
    assert after["h00"] == before["h00"]
    assert after["h03"] != before["h03"]
    # replay of the in-flight (bulk) epoch converges
    want = state(bulk)
    bulk.merge_batch(_mk_delta(spark, wide2), 2)
    assert state(bulk) == want
    # retention compaction across mixed narrow/bulk generations
    bulk.compact(F.col("hour") >= "h03")
    assert sorted({r.hour for r in bulk.read().collect()}) == [
        "h03", "h04", "h05", "h06", "h07", "h08",
    ]


def test_index_scheme_pin_refuses_cross_scheme_extension(spark, tmp_path):
    """Round-10: a signature index is a pure function of text AND its
    blocking scheme — extending a table built under one scheme with
    deltas from another (the 32→64-bit widening is the live hazard)
    must be REFUSED at stream construction, not silently merged into
    an index whose old and new rows never match. Same-scheme restart
    must keep working."""
    import pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        incremental_band_index_stream,
        incremental_block_index_stream,
    )

    schema = "doc_id long, text string"
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    q = incremental_block_index_stream(
        spark, src, str(tmp_path / "blk"), str(tmp_path / "c1"),
        max_hamming=3, nbits=64,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # same scheme: restart fine
    q = incremental_block_index_stream(
        spark, src, str(tmp_path / "blk"), str(tmp_path / "c1b"),
        max_hamming=3, nbits=64,
    )
    q.stop()
    # different budget (hence different banding): refused before any
    # batch runs
    with pytest.raises(ValueError, match="refusing to extend"):
        incremental_block_index_stream(
            spark, src, str(tmp_path / "blk"), str(tmp_path / "c2"),
            max_hamming=6, nbits=64,
        )
    # band index: banding params pinned the same way
    q = incremental_band_index_stream(
        spark, src, str(tmp_path / "band"), str(tmp_path / "c3"),
        k=8, bands=4, n=3,
    )
    q.stop()
    with pytest.raises(ValueError, match="refusing to extend"):
        incremental_band_index_stream(
            spark, src, str(tmp_path / "band"), str(tmp_path / "c4"),
            k=8, bands=2, n=3,
        )
    # legacy pre-stamping table (generations, no _scheme.json):
    # refused, never silently adopted under the current scheme
    import os as _os

    _os.remove(str(tmp_path / "blk" / "_scheme.json"))
    with pytest.raises(ValueError, match="predates scheme stamping"):
        incremental_block_index_stream(
            spark, src, str(tmp_path / "blk"), str(tmp_path / "c5"),
            max_hamming=3, nbits=64,
        )
    # torn stamp: clear refusal, not a raw JSONDecodeError
    with open(str(tmp_path / "band" / "_scheme.json"), "w") as f:
        f.write('{"kind": "minhash_b')
    with pytest.raises(ValueError, match="unreadable scheme stamp"):
        incremental_band_index_stream(
            spark, src, str(tmp_path / "band"), str(tmp_path / "c6"),
            k=8, bands=4, n=3,
        )


def test_incremental_block_index_parity_with_batch_hamming(spark, tmp_path):
    """Round-9 dedup-on-ingest for the SimHash class: the streamed
    block index, scored with hamming_pairs_from_blocks, must equal
    batch simhash_hamming_pairs over the same documents — under a
    2-file split and again after a late third file with a cross-file
    near-dup (the exact-cover property means EQUALITY, not a recall
    floor)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        hamming_pairs_from_blocks,
        simhash_hamming_pairs,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_block_index_stream,
    )

    # one word changed in 34 -> 64-bit hamming 5, inside the H=6
    # budget (the old 14-token pair drifted to hamming 7 when the
    # signature widened to 64 bits in round 10 — a resolution gain,
    # not an operator change)
    A = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
         "psi omega one two three four five six seven eight nine ten")
    A2 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
          "psi omega one two three four five six seven eight nine eleven")
    B = "completely different text about spark query engines and big data systems"
    schema = "doc_id long, text string"
    b1 = [(1, A), (3, B)]
    b2 = [(4, A)]            # exact dup of 1, lands in a LATER file
    b3 = [(2, A2), (10, B)]  # late near-dup of 1 + exact dup of 3
    src = str(tmp_path / "docs")
    H = 6

    def batch_pairs(rows):
        return sorted(
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_hamming_pairs(
                spark.createDataFrame(rows, schema), max_hamming=H
            ).collect()
        )

    def index_pairs():
        table = IncrementalCountTable(
            spark, str(tmp_path / "tbl"), ["doc_id", "blk", "val", "simhash"]
        )
        return sorted(
            (r.doc_a, r.doc_b, r.hamming)
            for r in hamming_pairs_from_blocks(
                table.read(), max_hamming=H
            ).collect()
        )

    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_block_index_stream(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
        max_hamming=H,
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert index_pairs() == batch_pairs(b1 + b2)
        assert any(p[:2] == (1, 4) and p[2] == 0 for p in index_pairs())
        spark.createDataFrame(b3, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = index_pairs()
    assert got == batch_pairs(b1 + b2 + b3)
    assert any(p[:2] == (1, 2) for p in got)
    assert any(p[:2] == (3, 10) and p[2] == 0 for p in got)


def test_new_doc_hamming_candidates_against_streamed_index(spark, tmp_path):
    """Ingest-time scoring for the block index: blocking ONLY the new
    batch against the maintained index finds its duplicates exactly.
    Contract asserted: every qualifying pair with >= 1 new-batch
    endpoint appears EXACTLY ONCE (unordered), the first column is
    always a new-batch doc, self-matches are excluded — covering
    vs-index pairs, within-batch pairs (neither indexed), and a
    replayed already-indexed doc (mirror collapse)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        new_doc_hamming_candidates,
        simhash_blocks,
        simhash_hamming_pairs,
    )

    # one word changed in 34 -> 64-bit hamming 5, inside the H=6
    # budget (the old 14-token pair drifted to hamming 7 when the
    # signature widened to 64 bits in round 10 — a resolution gain,
    # not an operator change)
    A = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
         "psi omega one two three four five six seven eight nine ten")
    A2 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
          "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
          "psi omega one two three four five six seven eight nine eleven")
    B = "completely different text about spark query engines and big data systems"
    schema = "doc_id long, text string"
    H = 6
    indexed = [(1, A), (3, B)]
    index = simhash_blocks(
        spark.createDataFrame(indexed, schema), max_hamming=H
    )
    # new batch: near-dup of an indexed doc, a within-batch dup pair
    # (neither indexed), and a replayed already-indexed doc
    new = [(2, A2), (20, B), (21, B), (1, A)]
    new_df = spark.createDataFrame(new, schema)
    got = sorted(
        (r.new_doc_id, r.doc_id, r.hamming)
        for r in new_doc_hamming_candidates(
            index, new_df, max_hamming=H
        ).collect()
    )
    new_ids = {2, 20, 21, 1}
    # ground truth: qualifying pairs over the union corpus, restricted
    # to >= 1 new endpoint (unordered)
    union_rows = sorted(set(indexed) | set(new))
    want_rel = {
        frozenset((r.doc_a, r.doc_b)): r.hamming
        for r in simhash_hamming_pairs(
            spark.createDataFrame(union_rows, schema), max_hamming=H
        ).collect()
        if r.doc_a in new_ids or r.doc_b in new_ids
    }
    got_rel = {frozenset((n, d)): h for n, d, h in got}
    assert got_rel == want_rel                      # exact coverage
    assert len(got) == len(got_rel)                 # once per pair
    assert all(n in new_ids for n, d, h in got)     # new doc first
    assert all(n != d for n, d, _ in got)           # no self-matches
    assert frozenset((1, 2)) in got_rel             # vs-index near-dup
    assert frozenset((20, 21)) in got_rel           # within-batch dup
    assert got_rel[frozenset((20, 3))] == 0         # new vs indexed exact


def test_read_index_scheme_round_trips_and_gates_batch_queries(tmp_path):
    """Round 11 (VERDICT r10 #1 + ADVICE): the stamp a streamed block
    index writes is exactly what hamming_block_scheme derives, and
    feeding it back through scheme= refuses mismatched batch queries
    scan-lessly — the full loop from ingest pin to batch-path guard."""
    import json
    import os

    import pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        _require_block_scheme,
        hamming_block_scheme,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        _pin_index_scheme,
        read_index_scheme,
    )

    path = str(tmp_path / "blk_idx")
    stamp = hamming_block_scheme(6, 64, 16)
    _pin_index_scheme(path, stamp)
    assert read_index_scheme(path) == stamp
    # the loaded stamp gates: matching params pass (and hand back the
    # stamp's own banding — min_key_bits is never restated), while a
    # drifted budget or vote mode refuses before any Spark job exists
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        simhash_banding,
    )

    assert _require_block_scheme(read_index_scheme(path), 6, 64) == (
        simhash_banding(6, 64, 16)
    )
    with pytest.raises(ValueError, match="scheme mismatch"):
        _require_block_scheme(read_index_scheme(path), 3, 64)
    with pytest.raises(ValueError, match="scheme mismatch"):
        _require_block_scheme(read_index_scheme(path), 6, 64, weighted=True)
    # missing and torn stamps refuse rather than guess
    with pytest.raises(ValueError, match="no readable scheme stamp"):
        read_index_scheme(str(tmp_path / "nowhere"))
    torn = str(tmp_path / "torn_idx")
    os.makedirs(torn)
    with open(os.path.join(torn, "_scheme.json"), "w") as f:
        f.write('{"kind": "simhash_blo')
    with pytest.raises(ValueError, match="no readable scheme stamp"):
        read_index_scheme(torn)
    # a minhash-band stamp is not a simhash blocking
    band = str(tmp_path / "band_idx")
    _pin_index_scheme(band, {"kind": "minhash_bands", "k": 8, "bands": 4, "n": 3})
    with pytest.raises(ValueError, match="not a simhash block scheme"):
        _require_block_scheme(read_index_scheme(band), 3, 64)


def test_new_doc_semantic_candidates_parity_and_scheme(spark, tmp_path):
    """Round 12 (VERDICT r11 #6): streaming SemDeDup scoring. A delta
    scored against the streamed cluster-assignment index must agree
    with batch semantic_dedup over the union corpus (restricted to
    pairs involving the delta); the codebook stamp written at first
    build gates scoring — a retrained codebook refuses scan-lessly,
    and stamp-less calls refuse by default naming the recovery."""
    import math

    import pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_centroid_rows,
        new_doc_semantic_candidates,
        semantic_dedup,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        incremental_ivf_index_stream,
        ivf_index_table,
        read_index_scheme,
    )

    def vec(seed: float, eps: float = 0.0):
        return [
            math.sin((seed + 1.3) * (j + 1) * 0.7) + eps * (j % 3 - 1)
            for j in range(8)
        ]

    schema = "vec_id long, seq long, embedding array<double>"
    src = str(tmp_path / "emb_files")
    base_rows = [(i, 0, vec(float(i))) for i in range(10)]
    base = spark.createDataFrame(base_rows, schema)
    spark.createDataFrame(base_rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    cent = ivf_centroid_rows(base, 3)
    q = incremental_ivf_index_stream(
        spark, src, str(tmp_path / "ivf"), str(tmp_path / "ckpt"),
        cent, dim=8, schema=schema,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    index = ivf_index_table(spark, str(tmp_path / "ivf")).read()
    stamp = read_index_scheme(str(tmp_path / "ivf"))
    assert stamp["kind"] == "ivf_codebook" and stamp["k"] == 3

    # delta: 20 = near-dup of indexed 3; 21/22 = within-batch
    # near-dups of each other; 23 unrelated; 3 replayed verbatim
    new_rows = [
        (20, 1, vec(3.0, 0.004)),
        (21, 1, vec(40.0)),
        (22, 1, vec(40.0, 0.004)),
        (23, 1, vec(77.0)),
        (3, 1, vec(3.0)),
    ]
    new = spark.createDataFrame(new_rows, schema)
    got = sorted(
        (r.new_vec_id, r.vec_id)
        for r in new_doc_semantic_candidates(
            index, new, cent, threshold=0.999, dim=8, scheme=stamp
        ).collect()
    )
    # parity: batch semantic_dedup pairs over the union corpus,
    # restricted to pairs with >=1 delta endpoint, one orientation each
    union = spark.createDataFrame(
        base_rows + [r for r in new_rows if r[0] != 3], schema
    ).select("vec_id", "embedding")
    batch = semantic_dedup(union, threshold=0.999, centroids=cent, dim=8)
    # recompute the qualifying pair set the batch prune used
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        cosine_similarity,
    )

    asg = ivf_assign(union, cent, dim=8).select(
        "vec_id", "c_emb", F.col("centroid_id").alias("cluster")
    )
    a = asg.select(
        F.col("vec_id").alias("va"), F.col("c_emb").alias("ea"), "cluster"
    )
    b = asg.select(
        F.col("vec_id").alias("vb"), F.col("c_emb").alias("eb"), "cluster"
    )
    full_pairs = {
        (r.va, r.vb)
        for r in a.join(b, "cluster")
        .filter(F.col("va") < F.col("vb"))
        .withColumn(
            "cos_r",
            F.round(cosine_similarity(F.col("ea"), F.col("eb")), 6),
        )
        .filter(F.col("cos_r") >= 0.999)
        .collect()
    }
    new_ids = {20, 21, 22, 23, 3}
    want = sorted(
        (x, y) if x in new_ids and (y not in new_ids or x < y) else (y, x)
        for x, y in full_pairs
        if x in new_ids or y in new_ids
    )
    # normalize the streaming orientations to (min, max)-comparable form
    assert sorted((min(p), max(p)) for p in got) == sorted(
        (min(p), max(p)) for p in want
    )
    assert (20, 3) in got or (3, 20) in [(b_, a_) for a_, b_ in got]
    assert (21, 22) in got
    # keep-min policy agreement: a delta vec is dropped by batch
    # semantic_dedup iff the streamed candidates give it a smaller
    # partner
    kept = {r.vec_id: r.kept for r in batch.collect()}
    for d in (20, 21, 22, 23):
        has_smaller = any(
            (n == d and i < d) or (i == d and n < d) for n, i in got
        )
        assert kept[d] == (not has_smaller), (d, kept[d], got)

    # retrained codebook (same k, same dim, different coords) refuses
    cent2 = [(c, [v * 1.0001 for v in vecs]) for c, vecs in cent]
    with pytest.raises(ValueError, match="codebook scheme mismatch"):
        new_doc_semantic_candidates(
            index, new, cent2, threshold=0.999, dim=8, scheme=stamp
        )
    # stamp-less refuses by default, naming the recovery
    with pytest.raises(ValueError, match="read_index_scheme"):
        new_doc_semantic_candidates(index, new, cent, threshold=0.999, dim=8)
    # in-session escape hatch works
    trusted = sorted(
        (r.new_vec_id, r.vec_id)
        for r in new_doc_semantic_candidates(
            index, new, cent, threshold=0.999, dim=8, trust_codebook=True
        ).collect()
    )
    assert trusted == got


def test_semantic_trusted_path_verifies_cluster_ids(spark):
    """Round-12 review: trust_codebook=True still runs the bounded
    id-set check — an index carrying cluster ids absent from the
    caller's codebook refuses instead of silently matching nothing."""
    import math

    import pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
        ivf_centroid_rows,
        new_doc_semantic_candidates,
    )

    def vec(seed: float):
        return [math.sin((seed + 1.3) * (j + 1) * 0.7) for j in range(8)]

    emb = spark.createDataFrame(
        [(i, vec(float(i))) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    cent = ivf_centroid_rows(emb, 3)
    index = ivf_assign(emb, cent, dim=8)
    new = spark.createDataFrame(
        [(20, vec(3.0))], "vec_id long, embedding array<double>"
    )
    # matching codebook passes the trusted check
    ok = new_doc_semantic_candidates(
        index, new, cent, threshold=0.9, dim=8, trust_codebook=True
    )
    assert ok.count() >= 0
    # an index assigned under a codebook with DIFFERENT ids refuses
    other = [(c + 100, v) for c, v in cent]
    bad_index = ivf_assign(emb, other, dim=8)
    with pytest.raises(ValueError, match="absent"):
        new_doc_semantic_candidates(
            bad_index, new, cent, threshold=0.9, dim=8, trust_codebook=True
        )
    # opt-out skips the scan for lazy in-session compositions
    skipped = new_doc_semantic_candidates(
        bad_index, new, cent, threshold=0.9, dim=8,
        trust_codebook=True, verify_clusters=False,
    )
    assert skipped.count() == 0


def test_incremental_pq_index_stream_parity_and_scheme(spark, tmp_path):
    """Round 12: the maintained IVF-PQ serving index. Streamed
    micro-batches (initial corpus, then update+insert) must leave the
    table equal to a fresh assign+encode of the final corpus; serving
    ivf_pq_topk from the maintained index (scheme-checked) must equal
    the batch plan; a retrained codebook refuses at both the extend
    and the serve boundary."""
    import math

    import pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        ivf_pq_topk,
        pq_code_expr,
        pq_codebooks,
        pq_norm_expr,
        pq_scheme,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
        ivf_centroid_rows,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        incremental_pq_index_stream,
        pq_index_table,
        read_index_scheme,
    )

    def vec(seed: float):
        return [math.sin((seed + 1.3) * (j + 1) * 0.7) for j in range(16)]

    schema = "vec_id long, seq long, embedding array<double>"
    src = str(tmp_path / "emb_files")
    base_rows = [(i, 0, vec(float(i))) for i in range(12)]
    base = spark.createDataFrame(base_rows, schema)
    spark.createDataFrame(base_rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    coarse = ivf_centroid_rows(base, 3)
    cbs = pq_codebooks(base, m=4, ksub=4, dim=16)

    q = incremental_pq_index_stream(
        spark, src, str(tmp_path / "pqix"), str(tmp_path / "ckpt"),
        coarse, cbs, dim=16, schema=schema,
    )
    try:
        q.processAllAvailable()
        upd = [(4, 1, vec(44.0)), (50, 1, vec(50.0))]
        spark.createDataFrame(upd, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    final = spark.createDataFrame(
        [r for r in base_rows if r[0] != 4] + upd, schema
    )
    fresh = (
        ivf_assign(final, coarse, dim=16)
        .select(
            "vec_id", "centroid_id",
            pq_code_expr("c_emb", cbs).alias("codes"),
        )
        .withColumn("anorm", pq_norm_expr("codes", cbs))
    )
    want = sorted(
        (r.vec_id, r.centroid_id, tuple(r.codes), r.anorm)
        for r in fresh.collect()
    )
    table = pq_index_table(spark, str(tmp_path / "pqix"))
    got = sorted(
        (r.vec_id, r.centroid_id, tuple(r.codes), r.anorm)
        for r in table.read().collect()
    )
    assert got == want and len(got) == 13

    # serve from the maintained index under the stamp == batch plan
    stamp = read_index_scheme(str(tmp_path / "pqix"))
    queries = final.select("vec_id", "embedding").filter("vec_id < 3")
    emb_final = final.select("vec_id", "embedding")
    served = sorted(
        (r.query_id, r.vec_id, r.cos_r, r.rank)
        for r in ivf_pq_topk(
            emb_final, queries, k=3, nprobe=2, codebooks=cbs,
            coarse=coarse, dim=16,
            indexed=table.read().select(
                "vec_id", "centroid_id", "codes", "anorm"
            ),
            scheme=stamp,
        ).collect()
    )
    batch = sorted(
        (r.query_id, r.vec_id, r.cos_r, r.rank)
        for r in ivf_pq_topk(
            emb_final, queries, k=3, nprobe=2, codebooks=cbs,
            coarse=coarse, dim=16,
        ).collect()
    )
    assert served == batch and len(served) > 0

    # retrained sub-codebook refuses at the serve boundary
    cbs2 = [[[v * 1.001 for v in sub] for sub in cb] for cb in cbs]
    with pytest.raises(ValueError, match="IVF-PQ scheme mismatch"):
        ivf_pq_topk(
            emb_final, queries, k=3, nprobe=2, codebooks=cbs2,
            coarse=coarse, dim=16, indexed=table.read(), scheme=stamp,
        )
    # ...and at the extend boundary (second stream, same path)
    with pytest.raises(ValueError, match="was built under"):
        incremental_pq_index_stream(
            spark, src, str(tmp_path / "pqix"), str(tmp_path / "ckpt2"),
            coarse, cbs2, dim=16, schema=schema,
        )


def test_incremental_domain_cap_stream(spark, tmp_path):
    """Round 12: the per-domain crawl budget on ingest. At most cap
    docs per registered domain are ever admitted across micro-batches
    (first-come across batches, md5-ranked within a batch); replayed
    docs are never double-admitted; a same-epoch replay derives the
    SAME admissions from the parent state (read_for_epoch) instead of
    an empty delta from its own output."""
    import hashlib

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        domain_cap_admit,
        domain_cap_table,
        incremental_domain_cap_stream,
    )

    def url(dom: str, i: int) -> str:
        return f"https://www.{dom}/p/{i}"

    schema = "doc_id long, url string"
    src = str(tmp_path / "docs")
    f1 = [(i, url("alpha.com", i)) for i in range(7)] + [
        (100, url("beta.org", 0)), (101, url("beta.org", 1)),
    ]
    f2 = [(10 + i, url("alpha.com", 10 + i)) for i in range(3)] + [
        (102 + i, url("beta.org", 2 + i)) for i in range(4)
    ] + [(0, url("alpha.com", 0))]  # replayed doc 0
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(src)
    q = incremental_domain_cap_stream(
        spark, src, str(tmp_path / "cap"), str(tmp_path / "ckpt"), cap=5,
        schema=schema,
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(f2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    table = domain_cap_table(spark, str(tmp_path / "cap"))
    rows = table.read().collect()
    got = {}
    for r in rows:
        got.setdefault(r.reg_domain, set()).add(r.doc_id)
    # sequential simulation: batch 1 admits the 5 smallest-md5 alpha
    # docs and both beta docs; batch 2 fills beta to 5 and admits no
    # alpha (budget already spent); the replayed doc 0 never
    # double-admits
    def md5rank(ids):
        return sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))

    alpha1 = set(md5rank(range(7))[:5])
    beta_all = {100, 101}
    beta2 = set(md5rank([102, 103, 104, 105])[:3])
    assert got["alpha.com"] == alpha1, got
    assert got["beta.org"] == beta_all | beta2, got
    assert all(len(v) <= 5 for v in got.values())
    # same-epoch replay determinism: re-admitting the LAST epoch's
    # batch content yields an identical table (read_for_epoch derives
    # the same delta from the parent state)
    last_epoch = max(r.seq for r in rows)
    # rebuild the keyed batch exactly as the stream's upsert does
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        url_host,
        url_registered_domain,
    )

    keyed2 = spark.createDataFrame(f2, schema).select(
        F.col("doc_id"),
        url_registered_domain(url_host(F.col("url"))).alias("reg_domain"),
    )
    domain_cap_admit(table, keyed2, cap=5, epoch_id=int(last_epoch))
    again = {
        (r.doc_id, r.reg_domain) for r in table.read().collect()
    }
    assert again == {(r.doc_id, r.reg_domain) for r in rows}


def test_band_index_takedown_fold_out_and_resurrection(spark, tmp_path):
    """Round 13 (VERDICT r12 #3): the delete path for maintained
    signature indexes. Ingest three docs (1 and 2 near-dups), take
    down doc 2, and pin the full contract: (a) serving_signature_rows
    hides the dead doc at the NEXT read while the raw table still
    holds its rows; (b) new_doc_dup_candidates over the SERVING view
    no longer surfaces it for a near-dup query doc, while the raw view
    still does; (c) fold-out compaction physically drops its band rows
    (row count shrinks; tombstone mark survives); (d) re-DELIVERY of
    the dead doc's text re-merges band rows but serving still hides it
    (takedown is sticky — resurrection is never an ingest side
    effect); (e) an explicit dead=false mark at a later epoch
    resurrects it; (f) a replayed delete epoch is idempotent."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        new_doc_dup_candidates,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        dead_ids,
        incremental_band_index_stream,
        read_index_scheme,
        serving_signature_rows,
        signature_tombstone_table,
    )

    t1 = "the quick brown fox jumps over the lazy dog and runs far away"
    t2 = "the quick brown fox jumps over the lazy dog and runs far off"
    t3 = "completely different text about spark query engines and data"
    schema = "doc_id long, text string, deleted boolean"
    src = str(tmp_path / "docs")
    tbl = str(tmp_path / "tbl")
    files = [
        [(1, t1, None), (2, t2, None), (3, t3, None)],  # e0 ingest
        [(2, None, True)],                              # e1 takedown
        [(4, t3 + " four", None)],                      # e2 -> fold-out
        [(2, t2, None)],                                # e3 re-delivery
        [(2, None, False)],                             # e4 un-delete
    ]
    spark.createDataFrame(files[0], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = incremental_band_index_stream(
        spark, src, tbl, str(tmp_path / "ckpt"), schema=schema,
        fold_out_every=2, deleted_col="deleted",
    )
    table = IncrementalCountTable(
        spark, tbl, ["doc_id", "band", "band_hash"],
        max_measures=("last_epoch",),
    )
    tomb = signature_tombstone_table(spark, tbl)
    scheme = None
    probe = spark.createDataFrame([(99, t2)], "doc_id long, text string")

    def serving_cands():
        return {
            (r[0], r[1])
            for r in new_doc_dup_candidates(
                serving_signature_rows(table, tomb), probe, scheme=scheme
            ).collect()
        }

    try:
        q.processAllAvailable()
        scheme = read_index_scheme(tbl)
        assert (99, 2) in serving_cands()  # pre-delete: dup of 2 found

        spark.createDataFrame(files[1], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # (a) raw table still holds doc 2's rows; serving hides them
        raw_docs = {r.doc_id for r in table.read().select("doc_id").distinct().collect()}
        assert 2 in raw_docs
        srv_docs = {
            r.doc_id
            for r in serving_signature_rows(table, tomb)
            .select("doc_id").distinct().collect()
        }
        assert 2 not in srv_docs and {1, 3} <= srv_docs
        # (b) scoring over serving view: no dup candidate; raw: still there
        assert (99, 2) not in serving_cands()
        assert (99, 1) in serving_cands()  # near-dup of 1 still served
        raw_cands = {
            (r[0], r[1])
            for r in new_doc_dup_candidates(
                table.read(), probe, scheme=scheme
            ).collect()
        }
        assert (99, 2) in raw_cands
        pre_fold = table.read().count()

        spark.createDataFrame(files[2], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # (c) epoch 2 ran fold_out_dead_docs: doc 2's rows physically gone
        raw_docs = {r.doc_id for r in table.read().select("doc_id").distinct().collect()}
        assert 2 not in raw_docs and 4 in raw_docs
        assert table.read().filter(F.col("doc_id") == 2).count() == 0
        assert table.read().count() < pre_fold + 50  # shrank minus doc4 adds
        # tombstone mark survived the fold
        assert {r.doc_id for r in dead_ids(tomb).collect()} == {2}

        spark.createDataFrame(files[3], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # (d) re-delivery re-merges band rows but serving still hides
        assert table.read().filter(F.col("doc_id") == 2).count() > 0
        assert (99, 2) not in serving_cands()

        spark.createDataFrame(files[4], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # (e) explicit un-delete resurrects
        assert dead_ids(tomb).count() == 0
        assert (99, 2) in serving_cands()
    finally:
        q.stop()

    # (f) replayed delete epoch is idempotent: re-merging the same
    # mark delta under the same epoch id leaves the sidecar unchanged
    before = {
        (r.doc_id, r.seq, r.dead)
        for r in tomb.read(include_tombstones=True).collect()
    }
    marks = spark.createDataFrame(
        [(2, 1, True)], "doc_id long, seq long, dead boolean"
    )
    tomb.merge_batch(marks, epoch_id=1)
    after = {
        (r.doc_id, r.seq, r.dead)
        for r in tomb.read(include_tombstones=True).collect()
    }
    assert after == before


def test_pq_index_delete_not_served(spark, tmp_path):
    """Round 13 (VERDICT r12 #3 done-criterion): after a tombstone
    delta, ivf_pq_topk served from the maintained index no longer
    surfaces the dead vector, and compact_tombstones physically drops
    the mark once the seq horizon passes while serving stays
    unchanged."""
    from pyspark.sql import functions as F

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        ivf_pq_topk,
        pq_codebooks,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_centroid_rows,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        pq_index_table,
        pq_index_upsert,
    )

    def vec(s):
        return [float(s + 0.01 * i) for i in range(8)]

    base = spark.createDataFrame(
        [(i, 0, vec(float(i % 5))) for i in range(20)],
        "vec_id long, seq long, embedding array<double>",
    )
    coarse = ivf_centroid_rows(base, 4)
    cbs = pq_codebooks(
        base.select("vec_id", F.col("embedding")), m=4, ksub=4, dim=8
    )
    table = pq_index_table(spark, str(tmp_path / "pq"))
    pq_index_upsert(table, base, coarse, cbs, epoch_id=0, dim=8)

    queries = base.filter(F.col("vec_id") == 0)
    served = ivf_pq_topk(
        base, queries, k=5, nprobe=4, codebooks=cbs, coarse=coarse,
        dim=8, indexed=table.read(),
    )
    hit_ids = {r.vec_id for r in served.collect()}
    assert hit_ids, "serving returned nothing"
    victim = sorted(hit_ids)[0]

    delta = spark.createDataFrame(
        [(victim, 1, vec(0.0), True)],
        "vec_id long, seq long, embedding array<double>, deleted boolean",
    )
    pq_index_upsert(table, delta, coarse, cbs, epoch_id=1, dim=8)
    served2 = ivf_pq_topk(
        base, queries, k=5, nprobe=4, codebooks=cbs, coarse=coarse,
        dim=8, indexed=table.read(),
    )
    after_ids = {r.vec_id for r in served2.collect()}
    assert victim not in after_ids
    # physical drop of the mark once the horizon passes; serving unchanged
    n_with = table.read(include_tombstones=True).count()
    table.compact_tombstones(horizon_seq=2)
    assert table.read(include_tombstones=True).count() == n_with - 1
    served3 = ivf_pq_topk(
        base, queries, k=5, nprobe=4, codebooks=cbs, coarse=coarse,
        dim=8, indexed=table.read(),
    )
    assert {r.vec_id for r in served3.collect()} == after_ids
    # the PRODUCTION serving composition over the maintained index:
    # refined rerank fetches floats only for the shortlist, and the
    # tombstoned vector stays invisible through it
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        ivf_pq_topk_refined,
    )

    refined = ivf_pq_topk_refined(
        base, queries, k=5, r=8, nprobe=4, codebooks=cbs, coarse=coarse,
        dim=8, indexed=table.read(),
    )
    ref_ids = {r.vec_id for r in refined.collect()}
    assert ref_ids and victim not in ref_ids
