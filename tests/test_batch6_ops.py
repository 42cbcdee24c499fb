"""Batch-6 invariants: range-join alignment, MAD medians, CUSUM
integer math, basket mining, BM25, sparse matmul (k-core peeling lives
in test_graph.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

import __spark_entry__ as entrymod

from conftest import SF_SMALL


def _run(spark, name):
    return entrymod.queries()[name](spark, SF_SMALL)


def test_range_join_alignment_equals_naive_between(spark):
    """The sort-merge-alignment plan must equal the naive BETWEEN
    join on data with multi-segment users, events at segment
    boundaries, and segment-free hours (impossible here by
    construction, but boundary ticks are the off-by-one trap)."""
    out = _run(spark, "event_stay_range_join")
    # every event lands in exactly one segment → counts conserve
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    n_events = load_table(spark, SF_SMALL, "events").count()
    assert out.agg(F.sum("n_events")).collect()[0][0] == n_events
    # segments with boundaries: stay_start <= stay_end always
    assert out.filter(F.col("stay_start") > F.col("stay_end")).count() == 0


def test_mad_median_rank_math(spark):
    """Rank-based median on hand data: even and odd group sizes."""
    rows = [("a", float(v), i) for i, v in enumerate([1, 3, 5, 7])]
    rows += [("b", float(v), 10 + i) for i, v in enumerate([2, 4, 9])]
    df = spark.createDataFrame(rows, "event_type string, value double, event_id long")
    df.createOrReplaceTempView("__mad_t")
    w = F.expr("row_number() OVER (PARTITION BY event_type ORDER BY value, event_id)")
    n = F.expr("count(*) OVER (PARTITION BY event_type)")
    r = df.select("event_type", "value", w.alias("rn"), n.alias("n"))
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.floor((F.col("n") + 2) / 2)
    med = (
        r.filter((F.col("rn") == lo) | (F.col("rn") == hi))
        .groupBy("event_type")
        .agg(F.avg("value").alias("med"))
    )
    got = {x.event_type: x.med for x in med.collect()}
    assert got == {"a": 4.0, "b": 4.0}  # (3+5)/2 and middle-of-3


def test_od_two_hop_is_exact_matmul(spark):
    """flow2 equals the numpy dense matmul of the OD totals."""
    import numpy as np

    qs = entrymod.queries()
    od = (
        qs["od_matrix"](spark, SF_SMALL)
        .filter(F.col("orig") != F.col("dest"))
        .groupBy("orig", "dest")
        .agg(F.sum("cnt").alias("w"))
        .collect()
    )
    n = entrymod.N_REGIONS + 1
    M = np.zeros((n + 1, n + 1), dtype=np.int64)
    for r in od:
        M[r.orig][r.dest] = r.w
    want = M @ M
    got = {(r.o, r.d): r.flow2 for r in _run(spark, "od_two_hop").collect()}
    for (o, d), v in got.items():
        assert want[o][d] == v
    assert len(got) == int((want > 0).sum())


def test_rolling_7d_bounds_and_spine(spark):
    """active_7d is sandwiched between the single-day distinct count
    and total users, and the day spine equals the observed days."""
    out = _run(spark, "rolling_7d_active_users").collect()
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    ev = load_table(spark, SF_SMALL, "events")
    daily = {
        r.day: r.n
        for r in ev.select(
            F.col("ts").cast("date").alias("day"), "user_id"
        )
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total_users = ev.select("user_id").distinct().count()
    assert {r.day for r in out} == set(daily)
    for r in out:
        assert daily[r.day] <= r.active_7d <= total_users


def test_stratified_split_exact_proportions(spark):
    """Per stratum: |train| = floor(.9n), |val| = floor(.95n)−|train|,
    counts conserve — EXACT, not in expectation."""
    rows = _run(spark, "stratified_split_counts").collect()
    per = {}
    for r in rows:
        per.setdefault(r.source, {})[r.split] = r.n_docs
    assert per  # at least one stratum
    for src, d in per.items():
        n = sum(d.values())
        assert d.get("train", 0) == (n * 9) // 10
        assert d.get("train", 0) + d.get("val", 0) == (n * 19) // 20


def test_random_walk_edges_exist_and_deterministic(spark):
    """Every consecutive walk step follows a real sparsified edge,
    and a second invocation reproduces the identical corpus."""
    qs = entrymod.queries()
    w1 = sorted(
        tuple(r) for r in qs["random_walk_corpus"](spark, SF_SMALL).collect()
    )
    w2 = sorted(
        tuple(r) for r in qs["random_walk_corpus"](spark, SF_SMALL).collect()
    )
    assert w1 == w2  # determinism across invocations
    steps = {}
    for start, step, node in w1:
        steps.setdefault(start, {})[step] = node
    for start, path in steps.items():
        assert sorted(path) == [0, 1, 2, 3]  # complete 3-step walks
        assert path[0] == start


def test_concurrent_stays_nonnegative_and_ends_at_zero(spark):
    """Sweep-line sanity: the active count never dips below zero, and
    each region's last change point closes every stay (ends at 0)."""
    out = _run(spark, "concurrent_stays")
    assert out.filter(F.col("n_active") < 0).count() == 0
    last = out.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("region_id").orderBy(F.col("hour").desc())
        ),
    ).filter(F.col("rn") == 1)
    assert last.filter(F.col("n_active") != 0).count() == 0


def test_span_corruption_mask_determinism_and_conservation(spark):
    """The corruption plan must be reproducible (two invocations,
    identical pairs) and conservative: input sentinels == target
    spans, and unmasked+masked == n_tokens."""
    q = entrymod.queries()["span_corruption_pairs"]
    r1 = sorted(tuple(r) for r in q(spark, SF_SMALL).collect())
    r2 = sorted(tuple(r) for r in q(spark, SF_SMALL).collect())
    assert r1 == r2 and len(r1) > 0
    saw_masked = False
    for doc_id, n_tokens, n_masked, inp, tgt in r1:
        n_sent_in = inp.split().count("<X>")
        n_sent_tgt = tgt.split().count("<X>")
        assert n_sent_in == n_sent_tgt  # one sentinel per span, both sides
        # token conservation: unmasked words in input + masked words
        # in target == original token count
        n_unmasked = len([w for w in inp.split() if w != "<X>"])
        n_masked_words = len([w for w in tgt.split() if w != "<X>"])
        assert n_unmasked + n_masked_words == n_tokens
        assert n_masked_words == n_masked
        saw_masked = saw_masked or n_masked > 0
    assert saw_masked  # the 20% coin actually fired somewhere
