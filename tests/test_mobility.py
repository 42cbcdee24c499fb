"""Unit laws for the per-user mobility characteristics (batch 10).

Checked on a hand-built positions table where every metric is known in
closed form, plus conservation laws on the real sf0.001 positions —
so a differential-harness failure localizes to the Spark side.
"""

from __future__ import annotations

import datetime as dt
import math

import pyspark.sql.functions as F

import __spark_entry__ as entrymod
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
    jump_length_histogram,
    location_diversity,
    radius_of_gyration,
    top_location_share,
    visitation_rank_curve,
)
from conftest import SF_SMALL


def _positions(spark, rows):
    return spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1, h), r) for u, h, r in rows],
        "user_id bigint, hour timestamp, region_id int",
    )


def test_radius_of_gyration_closed_form(spark):
    # user 1 never moves -> rog 0; user 2 alternates region 1 (0,0)
    # and region 2 (1,0) twice each -> variance 0.25 in x -> rog 0.5
    pos = _positions(
        spark,
        [(1, 0, 7), (1, 1, 7), (2, 0, 1), (2, 1, 2), (2, 2, 1), (2, 3, 2)],
    )
    got = {r.user_id: r for r in radius_of_gyration(pos).collect()}
    assert got[1].rog == 0.0 and got[1].n_obs == 2
    assert math.isclose(got[2].rog, 0.5) and got[2].n_obs == 4


def test_location_diversity_and_top_share_closed_form(spark):
    # user 1: 3 visits to region 5, 1 to region 9 ->
    #   eff = 16/10 = 1.6, top region 5 with share 0.75
    pos = _positions(spark, [(1, 0, 5), (1, 1, 5), (1, 2, 5), (1, 3, 9)])
    div = location_diversity(pos).collect()[0]
    assert div.n_regions == 2 and div.n_obs == 4
    assert math.isclose(div.eff_regions, 1.6)
    top = top_location_share(pos).collect()[0]
    assert top.top_region == 5 and math.isclose(top.top_share, 0.75)


def test_top_share_tie_breaks_to_smallest_region(spark):
    pos = _positions(spark, [(1, 0, 9), (1, 1, 3), (1, 2, 9), (1, 3, 3)])
    top = top_location_share(pos).collect()[0]
    assert top.top_region == 3 and math.isclose(top.top_share, 0.5)


def test_jump_histogram_conserves_hops(spark):
    pos = entrymod._mobility_positions(spark, SF_SMALL)
    hist = jump_length_histogram(pos)
    n_pos = pos.count()
    n_users = pos.select("user_id").distinct().count()
    # every consecutive pair is exactly one hop: sum(n_hops) = N - U
    assert hist.agg(F.sum("n_hops")).collect()[0][0] == n_pos - n_users
    # Chebyshev distance on a 5x4 grid is bounded by 4
    assert hist.filter((F.col("dist") < 0) | (F.col("dist") > 4)).count() == 0


def test_visitation_rank_curve_laws(spark):
    pos = entrymod._mobility_positions(spark, SF_SMALL)
    rows = sorted(visitation_rank_curve(pos).collect(), key=lambda r: r.rnk)
    n_users = pos.select("user_id").distinct().count()
    # rank 1 exists for every user; rank population never grows with k
    assert rows[0].rnk == 1 and rows[0].n_users == n_users
    pops = [r.n_users for r in rows]
    assert pops == sorted(pops, reverse=True)
    # per-rank mean is consistent with its own totals
    for r in rows:
        assert math.isclose(r.avg_visits, r.total_visits / r.n_users)


def test_diversity_bounds_on_real_positions(spark):
    pos = entrymod._mobility_positions(spark, SF_SMALL)
    div = location_diversity(pos)
    bad = div.filter(
        (F.col("eff_regions") < 1.0)
        | (F.col("eff_regions") > F.col("n_regions").cast("double"))
    ).count()
    assert bad == 0


def test_od_flow_balance_conserves_total_flow(spark):
    rows = entrymod.queries()["od_flow_balance"](spark, SF_SMALL).collect()
    assert rows
    # every inter-region move leaves one region and enters another:
    # global inflow == global outflow, and imbalance is a valid share
    assert sum(r.in_cnt for r in rows) == sum(r.out_cnt for r in rows)
    for r in rows:
        assert r.net == r.in_cnt - r.out_cnt
        assert 0.0 <= r.imbalance <= 1.0


def test_region_peak_hour_is_the_argmax(spark):
    import pyspark.sql.functions as F2

    peaks = {
        r.region: (r.peak_hour, r.peak_users)
        for r in entrymod.queries()["region_peak_hour"](
            spark, SF_SMALL
        ).collect()
    }
    occ = entrymod.queries()["occupancy_by_region_hour"](spark, SF_SMALL)
    mx = {
        r.region_id: r.m
        for r in occ.groupBy("region_id")
        .agg(F2.max("n_users").alias("m"))
        .collect()
    }
    assert set(peaks) == set(mx)
    for region, (hour, users) in peaks.items():
        assert users == mx[region]


def test_gravity_fit_r2_bounds_and_pair_count(spark):
    row = entrymod.queries()["gravity_model_fit"](spark, SF_SMALL).collect()[0]
    # pairs bounded by 20x19 directed region pairs; r2 is a valid share
    assert 0 < row.n_pairs <= 380
    assert 0.0 <= row.r2 <= 1.0


def test_weekly_growth_is_consistent_with_counts(spark):
    rows = entrymod.queries()["weekly_region_growth"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.prev_cnt >= 1
        assert math.isclose(r.growth, (r.cnt - r.prev_cnt) / r.prev_cnt)


def test_commute_matrix_covers_dual_anchor_users(spark):
    home = entrymod.queries()["home_location"](spark, SF_SMALL)
    work = entrymod.queries()["work_location"](spark, SF_SMALL)
    cm = entrymod.queries()["commute_matrix"](spark, SF_SMALL)
    # one cell per (home, work) pair; total mass = users with both
    n_dual = home.join(work, "user_id").count()
    assert cm.agg(F.sum("n_users")).collect()[0][0] == n_dual
    assert cm.filter(F.col("n_users") <= 0).count() == 0


def test_work_location_is_modal_business_region(spark):
    work = {
        r.user_id: r.work_region
        for r in entrymod.queries()["work_location"](spark, SF_SMALL).collect()
    }
    pos = entrymod._mobility_positions(spark, SF_SMALL).filter(
        (F.hour("hour") >= 9) & (F.hour("hour") <= 17)
    )
    counts = {}
    for r in pos.collect():
        counts.setdefault(r.user_id, {}).setdefault(r.region_id, 0)
        counts[r.user_id][r.region_id] += 1
    for u, per_region in counts.items():
        best = min(
            per_region.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]
        assert work[u] == best


def test_od_symmetry_bounds_and_pair_canonicalization(spark):
    rows = entrymod.queries()["od_symmetry"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.a < r.b
        assert 0.0 <= r.symmetry <= 1.0
        assert math.isclose(
            r.symmetry, 2 * min(r.f_ab, r.f_ba) / (r.f_ab + r.f_ba)
        )


def test_user_regularity_bounds_and_conservation(spark):
    rows = entrymod.queries()["user_regularity"](spark, SF_SMALL).collect()
    assert rows
    pos = entrymod._mobility_positions(spark, SF_SMALL)
    n_pos = pos.count()
    # every hourly position is counted exactly once in someone's n_obs
    assert sum(r.n_obs for r in rows) == n_pos
    for r in rows:
        # regularity is a share and can never be 0 (the mode exists)
        assert 0.0 < r.regularity <= 1.0


def test_region_visitor_diversity_bounds(spark):
    rows = entrymod.queries()["region_visitor_diversity"](
        spark, SF_SMALL
    ).collect()
    assert rows
    pos = entrymod._mobility_positions(spark, SF_SMALL)
    assert sum(r.n_obs for r in rows) == pos.count()
    for r in rows:
        assert 1.0 <= r.eff_visitors <= r.n_visitors


def test_new_vs_returning_daily_partitions_actives(spark):
    rows = sorted(
        entrymod.queries()["new_vs_returning_daily"](spark, SF_SMALL).collect(),
        key=lambda r: r.day,
    )
    assert rows
    for r in rows:
        assert r.new_users + r.returning_users == r.active_users
    # day one: everyone active is new; total new over all days = users
    assert rows[0].returning_users == 0
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    ev = load_table(spark, SF_SMALL, "events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.new_users for r in rows) == n_users


def test_median_jump_closed_form(spark):
    # user 1 hops: regions 1->2->1 (d=1,1) -> median 1; user 2 single
    # long hop 1->20 gives d = max(|0-4|,|0-3|) = 4
    pos = _positions(
        spark, [(1, 0, 1), (1, 1, 2), (1, 2, 1), (2, 0, 1), (2, 1, 20)]
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        grid_xy,
    )
    from pyspark.sql import Window as W2

    x, y = grid_xy(F.col("region_id"), 5)
    pts = pos.select("user_id", "hour", x, y)
    w = W2.partitionBy("user_id").orderBy("hour")
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
    got = {
        u: sorted(r.d for r in hops.filter(F.col("user_id") == u).collect())
        for u in (1, 2)
    }
    assert got[1] == [1, 1] and got[2] == [4]


def test_median_jump_and_completeness_on_real_positions(spark):
    med = {
        r.user_id: r
        for r in entrymod.queries()["median_jump_length"](
            spark, SF_SMALL
        ).collect()
    }
    comp = {
        r.user_id: r
        for r in entrymod.queries()["trajectory_completeness"](
            spark, SF_SMALL
        ).collect()
    }
    pos = entrymod._mobility_positions(spark, SF_SMALL)
    n_users = pos.select("user_id").distinct().count()
    assert len(comp) == n_users
    for u, r in comp.items():
        assert 0.0 < r.completeness <= 1.0
        assert r.n_obs <= r.span_hours
    for u, r in med.items():
        assert 0.0 <= r.median_jump <= 4.0  # Chebyshev bound on 5x4
        assert r.n_hops >= 1


def test_moment_operators_are_partition_invariant(spark):
    """The exactness claim behind every sufficient-statistics operator:
    BIGINT moments are associative/commutative, so ANY partitioning
    yields bit-identical doubles. Pin it by comparing collected results
    under 1-partition vs 13-partition inputs."""
    names = [
        "radius_of_gyration",
        "location_diversity",
        "ols_value_trend",
        "gravity_model_fit",
        "occupancy_autocorrelation",
        "user_regularity",
    ]
    qs = entrymod.queries()
    import analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources.tables as tbl

    orig_load = tbl.load_table
    results: dict[int, dict[str, list]] = {}
    for parts in (1, 13):

        def patched(spark_, sf_dir, name, _p=parts):
            return orig_load(spark_, sf_dir, name).repartition(_p)

        # patch BOTH call sites: tables.py's internal uses AND the
        # direct `from sources import load_table` in __spark_entry__
        tbl.load_table = patched
        entrymod.load_table = patched
        try:
            results[parts] = {
                n: sorted(tuple(r) for r in qs[n](spark, SF_SMALL).collect())
                for n in names
            }
        finally:
            tbl.load_table = orig_load
            entrymod.load_table = orig_load
    for n in names:
        assert results[1][n] == results[13][n], (
            f"{n}: results differ across partitioning"
        )


def test_exploration_curve_new_place_flags(spark):
    """Visit 1 is always new; a revisit is never new; a first visit to
    a second region is new at its index."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        exploration_curve,
    )
    from conftest import ts

    pos = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 5),
            (1, ts("2024-01-01 11:00:00"), 5),   # revisit
            (1, ts("2024-01-01 12:00:00"), 7),   # new place at idx 3
            (2, ts("2024-01-01 10:00:00"), 3),
        ],
        "user_id long, hour timestamp, region_id int",
    )
    got = {r.visit_idx: (r.n_visits, r.n_new, r.new_frac)
           for r in exploration_curve(pos).collect()}
    assert got[1] == (2, 2, 1.0)     # both users' first visit is new
    assert got[2] == (1, 0, 0.0)     # user 1 revisits region 5
    assert got[3] == (1, 1, 1.0)     # user 1 discovers region 7


def test_user_burstiness_regular_vs_bursty(spark):
    """Perfectly regular gaps → B = −1 exactly (σ=0); a bursty pattern
    (many short gaps + one huge) → B > 0; users with <2 gaps drop."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.mobility import (
        user_burstiness,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: hourly like clockwork (gaps all 1)
    for i in range(6):
        rows.append((1, base + dt.timedelta(hours=i), 5))
    # user 2: 1,1,1,1,200 — bursty
    hours = [0, 1, 2, 3, 4, 204]
    for h in hours:
        rows.append((2, base + dt.timedelta(hours=h), 5))
    # user 3: single observation → no gaps → excluded
    rows.append((3, base, 5))
    pos = spark.createDataFrame(
        rows, "user_id long, hour timestamp, region_id int"
    )
    got = {r.user_id: r for r in user_burstiness(pos).collect()}
    assert got[1].burstiness == -1.0
    # gaps [1,1,1,1,200]: mu=40.8, sigma~79.6 -> B ~ 0.322
    assert 0.3 < got[2].burstiness < 0.35
    assert 3 not in got
