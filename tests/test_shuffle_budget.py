"""Shuffle-budget regression gate.

Every Exchange is a cluster-wide shuffle; at 100 TB an accidental extra
one (a lost broadcast, a dropped map-side combine, a re-analysis that
splits an aggregate) is the difference between minutes and hours. This
test pins a CEILING on the Exchange count of each headline plan, so a
plan regression fails CI before it ever reaches a benchmark run.

Counts come from `physical_plan` (formatted explain), which mentions
each Exchange twice (tree + detail section) — ceilings are in those
units. Ceilings are the CURRENT counts, not aspirations: lowering one
is an improvement to bank deliberately, raising one needs a reason in
the commit message.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.plans import (
    physical_plan,
)

SF_SMALL = "/root/testdata/sf0.001"

EXCHANGE_CEILING = {
    "occupancy_by_region_hour": 4,
    "od_fractions": 8,
    "home_location": 6,
    "pricing_summary": 2,
    "revenue_by_brand": 2,
    "exact_dedup_docs": 2,
    "minhash_lsh_pairs": 5,
    "sessionization": 2,
    "cosine_topk": 2,
    "trajectory_gap_fill": 4,
    "corpus_curation": 2,
    "benchmark_decontam": 4,
    "sequence_packing": 2,
    "ivf_topk": 2,
    "geohash_cells": 2,
    "domain_mix_counts": 2,
    "dup_passage_stats": 6,
    "click_purchase_funnel": 4,
    "rare_token_stats": 6,
    "salted_type_counts": 4,
    # batch 4 (round 4)
    "data_quality_profile": 4,
    "weighted_doc_sample": 0,
    "cohort_retention": 8,
    "event_transition_matrix": 6,
    # final-stage plans only: the iterative upstreams are lineage-
    # truncated behind localCheckpoint, which is the point
    "region_communities": 0,
    "kmeans_embeddings": 2,
    # batch 5 (round 4)
    "region_degree_stats": 8,
    "ewma_user_value": 2,
    "value_outliers_by_type": 4,
    "embedding_minmax_norm": 2,
    "stopword_discovery": 4,
    "top_session_paths": 4,
    "audio_window_energy": 0,
    "region_bfs_hops": 2,
    # bitmap path; raised in round 7 for the identical-set collapse's
    # group/membership/expansion joins (narrow digest/id tables, AQE
    # broadcasts at runtime) — buys Θ(g) instead of g² pair
    # comparisons on duplicate-heavy corpora (SCALE.md §Round 7)
    "user_covisit_jaccard": 14,
    "round_trip_users": 6,
    "collocations_lift": 8,
    "shuffle_order": 2,
    "split_leakage_pairs": 5,
    # batch 6 (round 5)
    "od_two_hop": 2,
    "mad_value_anomaly": 8,
    "cusum_changepoint": 4,
    "seasonal_hod_index": 4,
    "basket_pairs": 6,
    "region_kcore": 2,       # peel rounds fold on the driver during build
    "event_stay_range_join": 2,
    "levenshtein_near_keys": 10,  # static; dictionary-encoded name-domain DP
    "bm25_search": 14,  # static pre-AQE count; runtime collapses to 7
    # batch 7 (round 5)
    "longest_streaks": 2,
    "rolling_7d_active_users": 8,  # static; AQE dedups the act/days scans
    "time_to_conversion": 2,
    "first_touch_attribution": 2,
    "quantile_normalize_embeddings": 2,
    # batch 8 (round 5)
    "random_walk_corpus": 8,   # 4 frontier joins against checkpointed edges
    "concurrent_stays": 12,    # static; union legs re-derive segs pre-AQE
    "key_skew_profile": 4,
    "stratified_split_counts": 2,
    "dense_grid_clusters": 4,   # final-stage; CC rounds checkpointed
    "trajectory_overlap": 4,
    # batch 9 (round 5): map-heavy text generation/inspection
    "skipgram_pairs": 2,
    "doc_chunks": 0,
    "kwic_contexts": 0,
    "sentence_stats": 2,
    "clustering_coefficient": 4,
    "span_corruption_pairs": 0,  # pure map: array HOFs over the scan
    "graph_summary_stats": 6,   # final-stage; edge table checkpointed
    "embedding_principal_component": 0,  # driver-assembled 64-row result
    "region_hits": 4,  # alternations fold on the driver during build
    # batch 10 (round 5): mobility characteristics
    "radius_of_gyration": 4,
    "location_diversity": 6,
    "top_location_share": 6,
    "jump_length_histogram": 6,
    "visitation_rank_curve": 8,
    # batch 11 (round 5): corpus statistics
    "chi2_keywords": 16,  # static; the four token aggs share one scan under AQE
    "zipf_token_rank": 2,
    "bigram_next_token": 4,
    "type_token_ratio": 4,
    # batch 12 (round 5): TPC-H parity
    "q4_order_priority": 4,
    "q7_nation_volume": 12,
    "q14_promo_share": 4,
    "q15_top_supplier": 10,
    "q19_disjunctive_revenue": 4,
    "q22_idle_rich": 10,
    "q16_supplier_cnt": 10,
    "q17_small_qty_revenue": 10,
    # batches 13-18 (round 5)
    "harmonic_centrality": 2,   # relax rounds fold on the driver during build
    "ols_value_trend": 2,
    "benford_digits": 4,
    "od_flow_balance": 16,      # static; both legs re-derive edges pre-AQE
    "region_peak_hour": 6,
    "countmin_heavy_hitters": 8,
    "occupancy_autocorrelation": 10,
    "bloom_membership_report": 18,  # static; users/members legs share the scan at runtime
    "gravity_model_fit": 22,    # static; mass and flow legs share pos at runtime
    "weekly_region_growth": 6,
    "work_location": 6,
    "commute_matrix": 16,       # static; home/work legs re-derive positions pre-AQE
    # batches 19-20 (round 5)
    "od_symmetry": 10,
    "user_regularity": 8,
    "vocab_growth_curve": 18,   # static; both token aggs share one scan at runtime
    "hub_dependence": 10,
    # batch 21 (round 5)
    "region_visitor_diversity": 6,
    "new_vs_returning_daily": 8,
    # batch 22 (round 5)
    "median_jump_length": 4,
    "trajectory_completeness": 4,
    # batch 23 (round 6)
    "gap_outlier_report": 4,
    "district_poi_profile": 4,  # multi-countDistinct expand on a dim-sized input
    # batch 24 (round 6): TPC-H parity completion
    "q6_forecast_revenue": 2,
    "q8_market_share": 2,
    "q9_profit_by_nation": 2,
    "q12_priority_lateness": 2,
    "q13_customer_distribution": 4,
    "q21_waiting_supplier": 16,  # static; lo/stats/at_max legs share scans at runtime
    # batch 25 (round 6)
    "region_closeness": 2,   # relax rounds fold on the driver during build
    "exploration_curve": 6,
    "user_burstiness": 4,
    # batch 26 (round 6): dedup survivorship (CC rounds checkpointed).
    # Raised in round 7: the exact-digest pre-collapse adds a digest
    # groupBy + membership/expansion joins — narrow (digest, id)
    # exchanges that buy away the Θ(g²) band-join blowup on exact-dup
    # groups (SCALE.md §Round 7: 54 s → 7 s at 64×). Raised again in
    # round 8: the signature-class star expansion adds the
    # whole-signature digest groupBy + class/membership joins — more
    # narrow (digest, id) exchanges that replace the C(g,2)
    # boilerplate-clique pair rows with Θ(g) star rows (SCALE.md
    # §Round 8: CC near-flat at g=16→256 while the clique grows)
    "dedup_survivors": 24,
    "cluster_size_histogram": 22,
    "near_dup_clusters": 18,
    # batch 27 (round 7): composed end-to-end dedup pipeline — the
    # survivor agg + join-back + lang profile on top of the
    # dedup_survivors chain (CC rounds behind checkpoints as above)
    "deduped_corpus_stats": 28,  # includes the r7+r8 collapse stages
    # signature agg + band fanout both sides + candidate distinct +
    # two payload join-backs — each narrow (digests/ids), by design
    # static pre-AQE count; the identical-set collapse adds the digest
    # group/membership/expansion joins — narrow (digest, id) tables
    # that AQE broadcasts at runtime. Measured: ~+1.2 s constant at
    # sf0.1 (zero duplicate sets) vs 8.7× faster on the duplicated
    # 16× probe corpus (SCALE.md §Round 7)
    "user_covisit_lsh": 54,
    # exact route on the committed corpus (df-stat router → single
    # join; the stats jobs run before the plan, so only the join shows)
    "near_dup_pairs_auto": 6,
    # batch 29 (round 9): doc-level recall contract — the LSH route's
    # signature agg + band fanout + candidate distinct + two payload
    # join-backs + the identical-set collapse joins, all narrow
    # (digests/ids); the 54-wide signature changes agg WIDTH, not the
    # exchange count
    "near_dup_pairs_t90": 18,
    # map-side centroid assignment + one k_c-bounded agg + final 1-row
    # agg: the corpus never shuffles
    "ivf_health_report": 4,
    # signature groupBy + block self-join + candidate distinct — all
    # narrow (doc_id, 8B signature) rows
    "simhash_hamming_pairs": 8,
    # round 10: the 64-bit multi-block banding changes band COUNT
    # (rows per doc), never the exchange structure — h=6's 28
    # two-block combinations ride the same signature groupBy + block
    # self-join + candidate distinct as h=3's 4 single blocks
    "simhash_hamming_pairs_h6": 8,
    # span_cleaned_stats minus the md5 (same plan, string returned):
    # the digest moved outside the rebuild agg in round 10, exchanges
    # unchanged
    "span_cleaned_text": 8,
    # one persisted augmented index (shingle +
    # doc_id window exchanges) + prefix-vs-index candidate join +
    # two count-verification joins: more exchange MENTIONS than the
    # old payload plan (17 vs 14) but every one carries narrow
    # (doc_id, digest) rows and the corpus is scanned/tokenized ONCE —
    # the old plan replicated each doc's full shingle array per
    # candidate pair, the real 100 TB hazard
    "containment_pairs": 17,
    # gram-df groupBy + covered join + one doc_id window whose
    # partitioning the island groupBy reuses (subset-key clustering)
    "duplicate_spans": 8,
    # the span chain above + positional anti-join + per-doc rebuild
    # groupBy + the totals left join — all doc_id/digest-keyed
    "span_cleaned_stats": 12,
    # APSS: tf groupBy + term/doc window exchanges on the ONE
    # persisted index + suffix-vs-full candidate join + two
    # verification joins + two norm joins — narrow (id, term, int)
    # rows throughout. The TEXTUAL count is inflated: the persisted
    # index is referenced 5× and explain() reprints its 3-exchange
    # lineage under every InMemoryRelation reference; at runtime the
    # cache computes it once (the same accounting as the other
    # persisted-index plans, just more references)
    "tf_cosine_pairs": 41,
    # containment_pairs' persisted-index plan (17 mentions) + the
    # shingle-size aggregation, the dominance verdict aggregation and
    # two left join-backs to the corpus
    "subsumption_prune": 30,
    # round 11: the redaction stage is pure map — posexplode/transform
    # + anchored rlike CASE inside codegen, zero shuffles
    "pii_pattern_spans": 0,
    "pii_redacted_text": 0,
    # the generic cut: covered-position distinct + positional anti-join
    # + per-doc rebuild + totals join-back — no gram stages
    "pii_cut_text": 4,
    # span_cleaned_text's chain (8) — the placeholder CASE rides the
    # existing positional anti-join + rebuild, no new exchange
    "redacted_cleaned_text": 8,
    # map-side centroid assignment + the within-cluster equi-join +
    # drop distinct + survivor join-back — cluster id keys throughout,
    # never an all-pairs stage
    "semantic_dedup": 4,
    # trained-codebook variant: identical serving plan (literal
    # centroids in-plan), training runs BEFORE this plan exists
    "semantic_dedup_kmeans": 4,
    # tf_cosine_pairs' plan (41 textual mentions, same persisted-index
    # accounting) behind the dense-regime probe, which runs as two
    # separate scalar jobs before this plan is even built
    "tf_cosine_pairs_auto": 41,
    # round 12. URL extraction and the scorer are pure projections —
    # zero exchanges is the contract, not an accident
    "url_domain_extract": 0,
    "linear_quality_scores": 0,
    # one domain-keyed window exchange (WindowGroupLimit partials
    # below it) / one suffix-keyed aggregate
    "per_domain_caps": 2,
    "url_suffix_mix_counts": 2,
    # broadcast-anti blocklist: 2 broadcast-exchange mentions (the dim
    # side) + the blocklist-derivation aggregate; corpus side 0
    "domain_blocklist_kept": 4,
    # canonicalization is a pure projection; the dedup adds one
    # canon-keyed aggregate; the quality-ordered cap is the same
    # WindowGroupLimit shape as per_domain_caps
    "url_canonicalized": 0,
    "canonical_url_dedup": 2,
    "per_domain_best": 2,
    # corpus_curation's digest exchange — the margin floor adds NO
    # exchange (map-side column on the same projection)
    "curation_scored": 2,
    # ADC pairs: codes scan + broadcast LUT probe + final rank window
    "pq_adc_topk": 4,
    # + the shortlist->float join-backs for the exact rerank
    "pq_topk_refined": 8,
    # list-pruned variant: assignment map-only, probe broadcast
    "ivf_pq_topk": 4,
    # round 14. The Arrow-fused curation keeps exactly the digest
    # window exchange (every quality gate rides the scan; the LM
    # kernel is a map stage)
    "curation_full": 2,
    # 20-language char-trigram ID is a pure projection — zero
    # exchanges is the contract (replace()-arithmetic scoring, both
    # prediction paths map-side)
    "lang_id_ngram": 0,
    # round 15: multi-script routing stays a pure projection — script
    # counts, family argmaxes, and the routing CASE are all map-side
    # (staged across projections only for codegen method size)
    "lang_id_script": 0,
    # apply-time BPE segmentation is a pure expression per token —
    # the only exchanges are the doc-keyed aggregate (partial+final;
    # no join, the r14 dim join is gone on this path)
    "bpe_token_stats_applied": 2,
    # PNG decode is two chained mapInPandas stages over the scan —
    # map-only like multimodal_decode
    "multimodal_decode_png": 0,
    "multimodal_decode_jpeg": 0,
    # one documents scan through blocklist anti-join + the full text
    # stack; exchanges = blocklist dim distinct (tiny, filtered side)
    # + its broadcast + digest dedup window + domain-cap window
    "curation_full_web": 8,
    # DSIR scoring = literal-ratio margin fold over a projection; the
    # distribution tables are built BEFORE this plan exists (bounded
    # aggregates, codebook-sized collects)
    "dsir_scores": 0,
    # + the broadcast 1-row min/max normalizer and the per-class
    # report aggregate
    "dsir_resampled_counts": 6,
    # served from the checkpointed feature frame: scoring itself is a
    # map-only literal-weight fold
    "scorer_trained_scores": 0,
    # round 15: calibrated serving is the same map-only literal-weight
    # fold with the algebraic sigmoid on top
    "scorer_sig_scores": 0,
    # docs-side quality projection joined to the checkpointed scored
    # frame + the digest dedup window
    "curation_scored_trained": 4,
    # the broadcast-1-row-agg normalizing shape (VERDICT r13 #5 —
    # replaced the partition-less window): per-domain agg + the 1-row
    # total + broadcast back; the realized variant re-derives the
    # rate dim and adds the coin/report aggregates
    "domain_mixture_alpha": 8,
    "mixture_sampled_counts": 12,
    # the merge table is a driver artifact (createDataFrame) — the
    # training aggregate ran before this plan exists
    "bpe_merges": 0,
    # exploded-token broadcast join against the segmentation dim +
    # the doc-keyed report aggregate
    "bpe_token_stats": 4,
    # SQ8 encoding is a pure projection over literal mins/scales
    # (training's bounded aggregate ran before this plan exists)
    "sq8_codes": 0,
    # broadcast query side + the final rank window
    "sq8_topk": 4,
    # round 15 second wave: both quality stacks are map-side
    # expressions; the only exchange is the 32-group rollup
    "script_quality_stats": 2,
    # the whole multiscript gate stack (script-routed classifier,
    # script-aware floors, routed repetition) rides the scan; the one
    # exchange is the digest dedup window
    "curation_multiscript": 2,
    # apply-time segmentation is a pure expression; exchanges = the
    # doc-keyed subword aggregate + the shard packing window (the bin
    # rollup reuses the shard partitioning)
    "sequence_packing_bpe": 4,
    # script-routed LSH over the pre-collapsed planted mix: canon
    # window + the two shingle-branch distincts + signature agg +
    # band self-join + two label joins + rollup — static count; the
    # canon persist dedups the branch re-derivations at runtime
    "near_dup_pairs_script": 32,
    # KMV: build-tier distinct + (week, day) rank window, merge-tier
    # distinct + week rank window over SKETCH rows only, estimator
    # agg + the exact-count comparison join
    "kmv_distinct_merge": 12,
    # sketch build (distinct + rank) feeding stats, both sides of the
    # sketch-pair join, and the exact-side distinct/self-join/size
    # aggregates it is reported against — all narrow or sketch-sized
    "kmv_jaccard_types": 32,
    # two windowed rank passes (full + 1/16 sample) over one scan +
    # the comparison join — the full side exists only as the
    # oracle-checkable truth; production runs the sampled tier alone
    "sampled_percentiles": 4,
    # both decontam pipelines over one planted scan: per-pipeline
    # benchmark-gram distinct + broadcast + doc rollup, then the
    # per-language dual rollup — the corpus side never shuffles for
    # the overlap joins
    "benchmark_decontam_script": 12,
    # four brute-force tiers (full + 3 prefixes), each scan +
    # broadcast probe + per-query rank window, then three
    # intersection joins and the per-query rollups — static count;
    # tiers share the embeddings scan at runtime under AQE
    "matryoshka_recall": 36,
    # classifier + token proxy + coin are one projection (keep is a
    # CASE inside the aggregate — no filter, no fence needed); the
    # one exchange is the 32-group rollup
    "language_mix_counts": 2,
    # classifier + quality in one STAGED projection; the rank and
    # threshold windows share one per-pred partitioning and the
    # rollup reuses it — one exchange total (the groupBy+self-join
    # form re-derived the classifier lineage; banked the window form)
    "quality_calibrated": 2,
    # final-stage plan only (the CC rounds truncate lineage behind
    # per-round checkpoints): the canon/labeling joins + the rollup
    "dedup_survivors_script": 10,
    # extraction is a pure regex/replace projection on the scan
    "html_extracted_stats": 0,
    # segmentation is a pure expression over the exploded tokens; the
    # one exchange is the 32-group rollup (trainer aggregate cached
    # before this plan exists)
    "bpe_compression_by_lang": 2,
}


@pytest.mark.parametrize("name", sorted(EXCHANGE_CEILING))
def test_exchange_count_within_budget(spark, name):
    # hermetic plan: cached tables persisted by other tests swap parts
    # of the tree for InMemoryTableScans and change the printed counts
    spark.catalog.clearCache()
    df = entrymod.queries()[name](spark, SF_SMALL)
    plan = physical_plan(df)
    n = len(re.findall(r"\bExchange\b", plan))
    # The scale-gated small-scan fan-out (sources.fan_out_small_scan,
    # round 16) inserts an Exchange roundrobinpartitioning under the
    # scan when the local fixture is a single small file; at any
    # production split count the gate provably no-ops and the node
    # vanishes. The budget tracks DATA-DEPENDENT shuffles (hash/range
    # partitionings a key choice could regress), so the input-layout
    # remedy is excluded from the count rather than padded into every
    # ceiling.
    # formatted explain mentions an Exchange node once per tree line
    # (cached lineage is reprinted under every InMemoryRelation
    # reference) plus one numbered detail header, and carries the
    # partitioning only on the detail's Arguments line — so resolve
    # the round-robin node ids from the details and subtract every
    # mention of those ids
    for rr_id in re.findall(
        r"\((\d+)\) Exchange\s*\nInput[^\n]*\n"
        r"Arguments: RoundRobinPartitioning",
        plan,
    ):
        n -= plan.count(f"Exchange ({rr_id})") + plan.count(
            f"({rr_id}) Exchange"
        )
    assert n <= EXCHANGE_CEILING[name], (
        f"{name}: {n} Exchange mentions > budget {EXCHANGE_CEILING[name]} — "
        f"a shuffle crept into the plan:\n{plan[:4000]}"
    )
