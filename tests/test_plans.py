"""Physical-plan assertions — the 100 TB scale contract (SURVEY.md §4).

Results being right is half the grade; these tests pin the plan shape:
dims broadcast, filters pushed to parquet, python kept out of hot paths.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from conftest import SF_MED, SF_SMALL

import __spark_entry__ as entrymod

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.plans import (
    assert_broadcast_join,
    assert_no_python_udf,
    physical_plan,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
    load_table,
)


def test_revenue_by_brand_broadcasts_dim(spark):
    df = entrymod._q_revenue_by_brand(spark, SF_SMALL)
    assert_broadcast_join(df)


def test_flagship_has_no_python_udf(spark):
    assert_no_python_udf(entrymod.entry(spark))


def test_gap_fill_has_no_python_udf(spark):
    assert_no_python_udf(entrymod._q_od_fractions(spark, SF_SMALL))


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    df = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = physical_plan(df)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan


def test_column_pruning_reads_narrow_schema(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    plan = physical_plan(li.select("l_orderkey").distinct())
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_two_phase_surrogate_keys_avoid_single_partition_window(spark):
    """The large-dim id mint must never funnel rows through one task:
    no single-partition exchange anywhere in its plan (the small-dim
    dense_rank path has exactly that — asserted as the contrast)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.region_build import (
        mint_dense_ids,
    )

    dim = spark.range(0, 5000).select(
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 8, "0")).alias(
            "anchor"
        ),
        (F.col("id") % 7).alias("payload"),
    )
    large = mint_dense_ids(dim, ["anchor"], "sk", large=True)
    assert "SinglePartition" not in physical_plan(large)
    small = mint_dense_ids(dim, ["anchor"], "sk", large=False)
    assert "SinglePartition" in physical_plan(small)


def test_two_phase_surrogate_keys_match_global_dense_rank(spark):
    """Same dense 1-based ids from both paths, including duplicate
    anchor keys (dense_rank semantics: dup keys share an id)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.region_build import (
        mint_dense_ids,
    )

    rows = [(f"g{i % 211:04d}", i) for i in range(1000)]  # 211 distinct anchors
    dim = spark.createDataFrame(rows, "anchor string, payload long")
    small = {
        (r.anchor, r.payload): r.sk
        for r in mint_dense_ids(dim, ["anchor"], "sk", large=False).collect()
    }
    large = {
        (r.anchor, r.payload): r.sk
        for r in mint_dense_ids(dim, ["anchor"], "sk", large=True).collect()
    }
    assert small == large
    assert set(small.values()) == set(range(1, 212))


def test_cascade_join_single_fact_scan(spark):
    """The one-pass cascade must not re-scan the fact per level —
    exactly one parquet scan of events in the plan."""
    import analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators as ops
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_events,
    )

    ev = load_events(spark, SF_SMALL)
    cust = load_table(spark, SF_SMALL, "customer")
    nation = load_table(spark, SF_SMALL, "nation")
    fact = ev.withColumn("nat_key", F.pmod("user_id", F.lit(25)).cast("int"))
    out = ops.cascade_join(
        fact,
        [
            (cust.filter("c_custkey < 50"), "user_id", "c_custkey", "c_mktsegment"),
            (nation, "nat_key", "n_nationkey", "n_name"),
        ],
        "label",
        F.lit("UNKNOWN"),
    )
    plan = physical_plan(out)
    assert plan.count("events.parquet") <= 1
    assert plan.count("BroadcastHashJoin") >= 2


def test_build_region_dim_auto_selects_two_phase(spark, monkeypatch):
    """build_region_dim must route inputs above
    LARGE_DIM_THRESHOLD through the two-phase mint (no SinglePartition
    exchange) and small inputs through the global window."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        region_build,
    )

    poi = spark.range(0, 500).select(
        (F.lit(31.0) + (F.col("id") % 100) * 0.001).alias("latitude"),
        (F.lit(121.0) + (F.col("id") % 100) * 0.001).alias("longitude"),
        F.col("id").alias("poi_id"),
    )
    # threshold lowered so the same 500-row input exercises both arms
    monkeypatch.setattr(region_build, "LARGE_DIM_THRESHOLD", 100)
    assert "SinglePartition" not in physical_plan(
        region_build.build_region_dim(poi)
    )
    monkeypatch.setattr(region_build, "LARGE_DIM_THRESHOLD", 10_000)
    assert "SinglePartition" in physical_plan(
        region_build.build_region_dim(poi)
    )


def test_region_build_plans_are_python_free(spark):
    """Round 4: build_region_dim / assign_poi_type / assign_region /
    nearest_poi_type route geohash encoding through the JVM-native
    encoder — no ArrowEvalPython/BatchEvalPython anywhere in their
    plans. The only executor-side Python left in the engine is the
    justified multimodal mapInPandas."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.region_build import (
        assign_poi_type,
        assign_region,
        build_region_dim,
        nearest_poi_type,
    )

    poi = spark.createDataFrame(
        [(31.2, 121.5, 1), (31.3, 121.6, 2)],
        "latitude double, longitude double, type int",
    )
    dim = build_region_dim(poi)
    # two POIs sit far below LARGE_DIM_THRESHOLD: the global-window mint
    assert "SinglePartition" in physical_plan(dim)
    assert_no_python_udf(dim)

    pings = spark.createDataFrame(
        [("p1", 31.2, 121.5, 1), ("p2", 31.3, 121.6, 2)],
        "id string, ltt double, lgt double, agent_id int",
    )
    assert_no_python_udf(assign_poi_type(pings, dim))
    assert_no_python_udf(assign_region(pings, dim))
    poi_k = dim.select(
        "agent_id", "latitude", "longitude", "type"
    )
    assert_no_python_udf(nearest_poi_type(pings, poi_k))


def test_runtime_bloom_filter_join_available(spark):
    """Spark injects a bloom-filter runtime filter (bloom_filter_agg on
    the selective build side, might_contain on the probe side) into
    shuffle joins once the probe scan exceeds
    `...bloomFilter.applicationSideScanSizeThreshold` (default 10 GB —
    i.e. automatically at the 100 TB target; local test data never
    crosses it, so the test pins the capability by lowering the
    threshold). The filter prunes probe rows BEFORE the shuffle — the
    single biggest wire saver on selective dim joins at scale."""
    prev_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_SMALL, "lineitem")
        part = load_table(spark, SF_SMALL, "part").filter(
            F.col("p_brand") == "Brand#11"
        )
        j = li.join(part, li.l_partkey == part.p_partkey).groupBy(
            "p_brand"
        ).agg(F.sum("l_quantity"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_thresh,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)


def test_tpch_batch12_dims_broadcast(spark):
    """Q7 must broadcast the (twice-aliased) nation dim; Q14/Q19 the
    part dim; Q15's max side and Q22's global mean are 1-row
    broadcasts — none of these may fall back to a shuffle join of a
    dimension against the fact."""
    for name in (
        "q7_nation_volume",
        "q14_promo_share",
        "q19_disjunctive_revenue",
        "q15_top_supplier",
        "q22_idle_rich",
    ):
        assert_broadcast_join(entrymod.queries()[name](spark, SF_SMALL))


def test_tpch_q4_date_filter_pushdown(spark):
    plan = physical_plan(entrymod._q_q4_order_priority(spark, SF_SMALL))
    assert "PushedFilters" in plan
    assert "o_orderdate" in plan  # the 1996 bracket reaches the scan


def test_mobility_family_is_python_free(spark):
    for name in (
        "radius_of_gyration",
        "location_diversity",
        "top_location_share",
        "jump_length_histogram",
        "visitation_rank_curve",
        "od_flow_balance",
        "region_peak_hour",
    ):
        assert_no_python_udf(entrymod.queries()[name](spark, SF_SMALL))


def test_region_peak_hour_has_no_window(spark):
    """The argmax must stay a max_by aggregate — a window over the
    (region × hour) occupancy surface would sort 8760·|regions| rows
    per year at scale for a 1-row-per-region answer."""
    plan = physical_plan(entrymod._q_region_peak_hour(spark, SF_SMALL))
    assert "Window" not in plan
    assert "max_by" in plan


def test_ols_moments_partially_aggregate(spark):
    """The OLS plan must carry partial_ aggregates (map-side combine):
    the six sufficient statistics are what crosses the wire, not rows."""
    plan = physical_plan(entrymod._q_ols_value_trend(spark, SF_SMALL))
    assert "partial_sum" in plan or "partial" in plan
    assert_no_python_udf(entrymod._q_ols_value_trend(spark, SF_SMALL))


def test_chi2_keywords_broadcasts_marginals(spark):
    assert_broadcast_join(entrymod._q_chi2_keywords(spark, SF_SMALL))


def test_registered_path_selections_pinned(spark, setsim_handoff, monkeypatch):
    """Round-7 path pins (VERDICT r6 #7): the three operators whose
    physical path is a DATA-DEPENDENT choice — ann_bucketed's adaptive
    nbits, user_covisit_jaccard's set-similarity path, ivf_topk's
    inline-vs-prebuilt assignment — are pinned on the committed test
    corpus, so a testdata regeneration that silently flips a path
    fails HERE instead of surfacing as an unexplained bench move (the
    r3→r4 drift class)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        PAIRS_PER_KEY_BUDGET,
        adaptive_nbits,
        choose_set_similarity_path,
        set_similarity_stats,
    )

    # 1) ann_bucketed: nbits derived from corpus size. 500 vectors at
    # sf0.001 AND sf0.01 → ceil(log2(500/16)) = 5; sf0.1's 2000 → 7.
    emb = load_table(spark, SF_SMALL, "embeddings")
    assert adaptive_nbits(emb.count()) == 5
    assert adaptive_nbits(2000) == 7

    # 2) user_covisit_jaccard: the registered query's dense-bitmap
    # path shows as the broadcast pair enumeration (no shuffle join of
    # user pairs) — and the auto router agrees the committed corpus is
    # below the LSH handoff, so the registered EXACT query stays
    # oracle-pairable.
    spark.catalog.clearCache()
    covisit = entrymod._q_user_covisit_jaccard(spark, SF_SMALL)
    plan = physical_plan(covisit)
    assert "BroadcastNestedLoopJoin" in plan
    ev = load_table(spark, SF_SMALL, "events")
    sets = ev.select(
        "user_id",
        F.pmod(F.floor(F.col("value")).cast("long"), F.lit(2000)).alias("cell"),
    ).distinct()
    stats = set_similarity_stats(sets, "user_id", "cell")
    assert choose_set_similarity_path(stats) == "exact", stats

    # 3) ivf_topk: the registered query assigns inline (array_max over
    # literal centroid sims in-plan), never from a materialized index
    # scan — flipping to a prebuilt index would change both markers.
    ivf = entrymod._q_ivf_topk(spark, SF_SMALL)
    iplan = physical_plan(ivf)
    assert "array_max" in iplan
    assert "ivf_index" not in iplan

    # 4) near_dup_pairs_auto: the registered document-level auto route
    # must be EXACT on the committed corpus (its oracle is the exact
    # n-gram Jaccard SQL — an LSH flip would make the oracle row lie)
    ndp = entrymod._q_near_dup_pairs_auto(spark, SF_SMALL)
    assert ndp.__setsim_path__ == "exact"

    # 5) user_covisit_lsh_t90 (round 8): the registered query derives
    # its banding from choose_lsh_params, and the oracle SQL is
    # GENERATED for (50, 25) — if the library selection ever moves,
    # this pin fails before the oracle row silently mismatches.
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        choose_lsh_params,
        lsh_collision_probability,
    )

    k_c, b_c = choose_lsh_params(3, 10, target_recall=0.9)
    assert (k_c, b_c) == (50, 25)
    assert lsh_collision_probability(0.3, k_c, b_c) >= 0.9

    # 6) near_dup_pairs_t90 (round 9): the DOC-level contract query —
    # banding pinned to the library math (the oracle SQL is generated
    # for (54, 18)) and handed to the LSH join at every sf.
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        similarity,
    )

    k_d, b_d = choose_lsh_params(1, 2, target_recall=0.9)
    assert (k_d, b_d) == (54, 18)
    assert lsh_collision_probability(0.5, k_d, b_d) >= 0.9
    real_lsh = similarity.set_similarity_join_lsh
    bandings = []

    def spy(*a, **kw):
        bandings.append((kw["k"], kw["bands"]))
        return real_lsh(*a, **kw)

    monkeypatch.setattr(similarity, "set_similarity_join_lsh", spy)
    entrymod._q_near_dup_pairs_t90(spark, SF_SMALL)
    assert bandings == [(54, 18)]

    # 7) tf_cosine_pairs_auto (round 11): the registered APSS query
    # runs behind the dense-regime guard — the probe verdict must be
    # EXACT at n=3 on the committed corpus at BOTH correctness scales
    # (its oracle is the unpruned brute force at the same threshold;
    # a corpus regeneration that flips the verdict would turn the
    # oracle row into a refusal, and must fail HERE first), and the
    # unigram dense regime must REFUSE, not silently run quadratic.
    import pytest as _pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        tf_cosine_dense_stats,
        tf_cosine_pairs_auto,
    )

    for sf in (SF_SMALL, SF_MED):
        d = load_table(spark, sf, "documents")
        assert tf_cosine_dense_stats(d, n=3)["path"] == "exact", sf
    # bench scale: n=3 is measured dense (the guard fires) and the
    # registered escalate path lands on n=4 exact — the pair of
    # verdicts the query docstring claims
    d01 = load_table(spark, "/root/testdata/sf0.1", "documents")
    assert tf_cosine_dense_stats(d01, n=3)["path"] == "lsh"
    assert tf_cosine_dense_stats(d01, n=4)["path"] == "exact"
    # the unigram dense regime refuses once the small-corpus floor is
    # out of the way (min_keys=0 — at 500 docs the default floor
    # routes everything exact, which is itself part of the pin above)
    docs_small = load_table(spark, SF_SMALL, "documents")
    verdicts = setsim_handoff(PAIRS_PER_KEY_BUDGET, 0)
    with _pytest.raises(ValueError, match="dense regime"):
        tf_cosine_pairs_auto(docs_small, n=1)
    assert verdicts == ["lsh"]


def test_batch29_dedup_family_is_python_free(spark):
    """Round-9 batch 29: the new dedup operators must stay entirely
    JVM-side — signature votes, block joins, prefix filters, island
    merges and the positional cut are all built-in expressions."""
    for name in (
        "simhash_hamming_pairs",
        "simhash_hamming_pairs_h6",
        "containment_pairs",
        "duplicate_spans",
        "span_cleaned_stats",
        "span_cleaned_text",
        "tf_cosine_pairs",
        "subsumption_prune",
        # round 11: the guard-routed APSS join and the redaction stage
        # (anchored rlike CASE chains — JVM regex, zero Python)
        "tf_cosine_pairs_auto",
        "pii_pattern_spans",
        "pii_redacted_text",
        "pii_cut_text",
        "redacted_cleaned_text",
        "semantic_dedup",
        "semantic_dedup_kmeans",
    ):
        assert_no_python_udf(entrymod.queries()[name](spark, SF_SMALL))


def test_domain_alpha_rates_have_no_window(spark):
    """Round 14 (VERDICT r13 #5): the α-mixture normalizing totals must
    come from the broadcast-1-row-aggregate shape, not a partition-less
    window — no Window operator at all in either mixture query's plan,
    and the rate dim joins broadcast."""
    for name in ("domain_mixture_alpha", "mixture_sampled_counts"):
        plan = physical_plan(entrymod.queries()[name](spark, SF_SMALL))
        assert "Window" not in plan, name
    assert_broadcast_join(
        entrymod.queries()["mixture_sampled_counts"](spark, SF_SMALL)
    )
