"""Batch-4 operator unit tests: quality profile, weighted sampling,
cohort retention, k-means (label propagation and BFS live in
test_graph.py). The DuckDB oracle gate covers cross-engine value
equality; these pin SEMANTICS on planted fixtures where the right
answer is known by construction."""

from __future__ import annotations

import pyspark.sql.functions as F

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.sampling import (
    weighted_keep,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.cohort import (
    cohort_retention,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
    assign_clusters,
    kmeans_fit,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.quality import (
    profile_table,
)

from conftest import ts


def test_profile_nulls_and_means(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "a"), (3, 20.0, None), (4, 30.0, "b")],
        "id long, v double, s string",
    )
    out = {
        (r.col_name, r.metric): r.value
        for r in profile_table(
            df,
            completeness_cols=["v", "s"],
            distinct_cols=["s"],
            numeric_cols=["v"],
        ).collect()
    }
    assert out[("*", "n_rows")] == 4.0
    assert out[("v", "completeness")] == 0.75
    assert out[("s", "completeness")] == 0.75
    assert out[("s", "n_distinct")] == 2.0
    assert out[("v", "min")] == 10.0
    assert out[("v", "max")] == 30.0
    # mean over NON-NULL values (Deequ semantics), not over all rows
    assert out[("v", "mean")] == 20.0


def test_weighted_keep_edges_and_monotonicity(spark):
    df = spark.createDataFrame(
        [(i, 0.5) for i in range(400)], "k long, r double"
    )
    n_all = df.filter(
        weighted_keep(F.col("k"), F.lit(1.0))
    ).count()
    n_none = df.filter(
        weighted_keep(F.col("k"), F.lit(0.0))
    ).count()
    assert n_all == 400 and n_none == 0
    # a row kept at rate r stays kept at any higher rate (same coin)
    lo = {
        r.k
        for r in df.filter(weighted_keep(F.col("k"), F.lit(0.3))).collect()
    }
    hi = {
        r.k
        for r in df.filter(weighted_keep(F.col("k"), F.lit(0.7))).collect()
    }
    assert lo <= hi
    assert 0.3 * 400 * 0.5 < len(lo) < 0.3 * 400 * 1.5  # ~uniform coin


def test_cohort_retention_triangle(spark):
    # u1 active weeks 0,1,2; u2 weeks 0,2; u3 joins week 1, active 1 only
    rows = [
        (1, ts("2024-01-01 10:00:00")),
        (1, ts("2024-01-08 10:00:00")),
        (1, ts("2024-01-15 10:00:00")),
        (2, ts("2024-01-02 10:00:00")),
        (2, ts("2024-01-16 10:00:00")),
        (3, ts("2024-01-09 10:00:00")),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (str(r.cohort_week), r.week_offset): (r.n_active, r.retention)
        for r in cohort_retention(ev).collect()
    }
    assert out[("2024-01-01", 0)] == (2, 1.0)
    assert out[("2024-01-01", 1)] == (1, 0.5)  # only u1 returned
    assert out[("2024-01-01", 2)] == (2, 1.0)  # both back
    assert out[("2024-01-08", 0)] == (1, 1.0)  # u3's own cohort
    assert ("2024-01-08", 1) not in out


def test_kmeans_planted_blobs(spark):
    # two tight blobs around (0,0) and (10,10); k=2 seeded one per blob
    pts = [(0, [0.0, 0.1]), (1, [10.0, 9.9])] + [
        (i, [0.0 + (i % 3) * 0.1, 0.0 + (i % 5) * 0.1])
        for i in range(2, 20)
    ] + [
        (i, [10.0 + (i % 3) * 0.1, 10.0 + (i % 5) * 0.1])
        for i in range(20, 40)
    ]
    emb = spark.createDataFrame(pts, "vec_id long, vec array<double>")
    cents, assigned = kmeans_fit(emb, k=2, iterations=3)
    got = {r.vec_id: r.cluster for r in assigned.collect()}
    blob0 = {i for i in got if got[i] == got[0]}
    blob1 = {i for i in got if got[i] == got[1]}
    assert blob0 == {0} | set(range(2, 20))
    assert blob1 == {1} | set(range(20, 40))
    # centroids landed inside their blobs
    assert abs(cents[got[0]][0]) < 1.0 and abs(cents[got[1]][0] - 10.0) < 1.0


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # duplicate seed vectors: every point ties between clusters 0 and 1
    # and the deterministic tie-break sends all of them to 0, so
    # cluster 1 is empty from round 1 and must keep its seed centroid
    pts = [(0, [0.0]), (1, [0.0])] + [
        (i, [float(i % 5) * 0.1]) for i in range(2, 30)
    ]
    emb = spark.createDataFrame(pts, "vec_id long, vec array<double>")
    cents, assigned = kmeans_fit(emb, k=2, iterations=2)
    assert cents[1] == [0.0]
    # the kept centroid stays live: the final assignment repopulates it
    # with the points now nearer 0.0 than cluster 0's drifted mean
    reassigned = {
        r.vec_id for r in assigned.filter(F.col("cluster") == 1).collect()
    }
    assert reassigned  # non-empty again, all near the kept 0.0 centroid
    for r in assigned.filter(F.col("cluster") == 1).collect():
        assert r.vec[0] <= 0.1


def test_kmeans_assignment_is_map_only(spark):
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.plans import (
        physical_plan,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)],
        "vec_id long, vec array<double>",
    )
    plan = physical_plan(
        assign_clusters(emb, {0: [0.0, 0.0], 1: [5.0, 0.0]})
    )
    assert "Exchange" not in plan  # no join, no shuffle — pure codegen


def test_ewma_fold_semantics(spark):
    # s0=4, s1=4/2+8/2=6, s2=6/2+2/2=4 — pinned by hand
    rows = [
        (1, ts("2024-01-01 10:00:00"), 1, 4.0),
        (2, ts("2024-01-01 11:00:00"), 1, 8.0),
        (3, ts("2024-01-01 12:00:00"), 1, 2.0),
        (4, ts("2024-01-01 10:00:00"), 2, 7.0),  # single event: s = x0
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    import __spark_entry__ as entrymod

    # drive through the registered query path on a temp parquet dir
    lst = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("seq")
        )
        .select(
            "user_id",
            F.transform(F.col("seq"), lambda s: s["value"]).alias("vals"),
        )
        .select(
            "user_id",
            F.aggregate(
                F.slice(F.col("vals"), 2, F.size("vals") - 1),
                F.element_at(F.col("vals"), 1),
                lambda acc, x: acc / F.lit(2.0) + x / F.lit(2.0),
            ).alias("ewma"),
        )
    )
    out = {r.user_id: r.ewma for r in lst.collect()}
    assert out[1] == 4.0
    assert out[2] == 7.0


def test_outlier_rule_matches_two_sigma(spark):
    # values 0 (x29) and 100 (x1): mean≈3.226, var≈312 → 100 is the
    # only point with (x-mean)^2 > 4*var
    rows = [(i, "a", 0.0) for i in range(29)] + [(99, "a", 100.0)]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    stats = ev.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count("value").cast("double"),
            6,
        ).alias("mean_v"),
        F.round(
            F.sum((F.col("value") * F.col("value")).cast("decimal(28,6)")).cast(
                "double"
            )
            / F.count("value").cast("double"),
            6,
        ).alias("mean_sq"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    var = F.col("mean_sq") - F.col("mean_v") * F.col("mean_v")
    dev = F.col("value") - F.col("mean_v")
    n_out = j.filter(dev * dev > F.lit(4.0) * var).count()
    assert n_out == 1


def test_minmax_norm_bounds(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 10.0]), (1, [3.0, 20.0]), (2, [2.0, 15.0])],
        "vec_id long, vec array<double>",
    )
    cells = emb.select("vec_id", F.posexplode("vec").alias("dim0", "x"))
    stats = cells.groupBy("dim0").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    out = cells.join(F.broadcast(stats), "dim0").select(
        "vec_id",
        "dim0",
        ((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn"))).alias(
            "x_norm"
        ),
    )
    vals = {(r.vec_id, r.dim0): r.x_norm for r in out.collect()}
    assert vals[(0, 0)] == 0.0 and vals[(1, 0)] == 1.0 and vals[(2, 0)] == 0.5
    assert vals[(0, 1)] == 0.0 and vals[(1, 1)] == 1.0 and vals[(2, 1)] == 0.5


def test_iterative_ops_partition_invariant(spark):
    """Core determinism contract: kmeans produces IDENTICAL results
    under any input partitioning (decimal sums, total-order
    tie-breaks — nothing depends on partition boundaries or row
    order). LPA and BFS fold on the driver over a collected edge
    list, so partitioning can only change the ORDER of that list:
    each fold must be invariant to every permutation tried here."""
    import random

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.graph_bounded import (
        bfs_hops_fold,
        label_propagation_fold,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.labelprop import (
        undirected_weighted_edges,
    )

    pts = [
        (i, [float((i * 37) % 11) / 3.0, float((i * 53) % 13) / 7.0])
        for i in range(40)
    ]
    edges = [
        (i % 9, (i * 7) % 9, 1 + i % 4) for i in range(40)
    ]
    base_k = base_l = base_b = None
    rng = random.Random(7)
    for parts in (1, 7, 32):
        emb = spark.createDataFrame(
            pts, "vec_id long, vec array<double>"
        ).repartition(parts)
        cents, assigned = kmeans_fit(emb, k=3, iterations=2)
        got_k = (cents, sorted((r.vec_id, r.cluster) for r in assigned.collect()))
        e = spark.createDataFrame(
            edges, "src int, dst int, w long"
        ).repartition(parts)
        und = [(r.u, r.v, r.w) for r in undirected_weighted_edges(e).collect()]
        directed = [(r.src, r.dst) for r in e.select("src", "dst").collect()]
        for perm in range(3):
            if perm:
                rng.shuffle(und)
                rng.shuffle(directed)
            got_l = label_propagation_fold(und, rounds=3)
            got_b = bfs_hops_fold(directed, 0, 4)
            if base_l is None:
                base_l, base_b = got_l, got_b
            else:
                assert got_l == base_l
                assert got_b == base_b
        if base_k is None:
            base_k = got_k
        else:
            assert got_k == base_k
