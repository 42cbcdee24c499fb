"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced through a full materialization (noop sink) so
timings include every operator, not just the count path.

Noise protocol (round 3): the host shows up to 2x wall-clock variance
between identical runs under external load.  Each query therefore gets
one untimed warm-up pass (plan compile + codegen + shuffle-file cache)
followed by BENCH_ITERS (default 3) timed passes; the reported number
is the per-query MEDIAN, and the JSON carries a per-query spread
(max-min over the timed passes) so a reader can tell load noise from a
real regression without re-running.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.session import (
    get_spark,
)

HEADLINE = [
    "occupancy_by_region_hour",
    "trajectory_gap_fill",
    "od_fractions",
    "home_location",
    "pricing_summary",
    "revenue_by_brand",
    "top_orders_per_customer",
    "exact_dedup_docs",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "sessionization",
    "text_stats",
    "cosine_topk",
    "ann_bucketed",
    # iterative and composed pipelines — round-over-round perf tracking
    # must cover more than single-pass queries
    "near_dup_clusters",
    "corpus_curation",
    "od_weekly_cycle",
    # late round-2 pipeline operators
    "benchmark_decontam",
    "ivf_topk",
    "ivf_topk_kmeans",
    "sequence_packing",
    # round-3 additions (VERDICT r2 #9): all round-2 surface perf-tracked
    "ann_banded",
    "label_centroids",
    "dup_passage_stats",
    # batch-3 additions (round 3): sequence analytics, corpus rarity,
    # skew, PageRank — naming matches __spark_entry__.py's registry
    "click_purchase_funnel",
    "rare_token_stats",
    "salted_type_counts",
    "region_pagerank",
    # round-4: the remaining round-3 surface enters the trend line
    # (VERDICT r3 "What's missing" #1)
    "region_triangles",
    "quantized_cosine_topk",
    # batch-4 additions (round 4): quality / cohorts / graph / ML
    "data_quality_profile",
    "cohort_retention",
    "region_communities",
    "kmeans_embeddings",
    # batch-5 additions (round 4): time series / anomaly / scaling
    "ewma_user_value",
    "value_outliers_by_type",
    "embedding_minmax_norm",
    # remaining round-4 surface — every new operator perf-tracked
    "weighted_doc_sample",
    "event_transition_matrix",
    "region_degree_stats",
    "stopword_discovery",
    "top_session_paths",
    "audio_window_energy",
    "region_bfs_hops",
    "user_covisit_jaccard",
    "round_trip_users",
    "collocations_lift",
    "shuffle_order",
    "split_leakage_pairs",
    # batch-6 additions (round 5)
    "od_two_hop",
    "mad_value_anomaly",
    "cusum_changepoint",
    "seasonal_hod_index",
    "basket_pairs",
    "region_kcore",
    "event_stay_range_join",
    "levenshtein_near_keys",
    "bm25_search",
    # batch-7 additions (round 5)
    "longest_streaks",
    "rolling_7d_active_users",
    "time_to_conversion",
    "first_touch_attribution",
    "quantile_normalize_embeddings",
    # batch-8 additions (round 5)
    "random_walk_corpus",
    "concurrent_stays",
    "key_skew_profile",
    "stratified_split_counts",
    "dense_grid_clusters",
    "trajectory_overlap",
    # batch-9 additions (round 5)
    "skipgram_pairs",
    "doc_chunks",
    "kwic_contexts",
    "sentence_stats",
    "clustering_coefficient",
    "span_corruption_pairs",
    "graph_summary_stats",
    "embedding_principal_component",
    "region_hits",
    # batch-10 additions (round 5): mobility characteristics
    "radius_of_gyration",
    "location_diversity",
    "top_location_share",
    "jump_length_histogram",
    "visitation_rank_curve",
    # batch-11 additions (round 5): corpus statistics
    "chi2_keywords",
    "zipf_token_rank",
    "bigram_next_token",
    "type_token_ratio",
    # batch-12 additions (round 5): TPC-H relational parity
    "q4_order_priority",
    "q7_nation_volume",
    "q14_promo_share",
    "q15_top_supplier",
    "q19_disjunctive_revenue",
    "q22_idle_rich",
    "q16_supplier_cnt",
    "q17_small_qty_revenue",
    # batch-13 additions (round 5)
    "harmonic_centrality",
    # batch-14 additions (round 5)
    "ols_value_trend",
    "benford_digits",
    # batch-15 additions (round 5)
    "od_flow_balance",
    "region_peak_hour",
    # batch-16 additions (round 5)
    "countmin_heavy_hitters",
    "occupancy_autocorrelation",
    "bloom_membership_report",
    # batch-17 additions (round 5)
    "gravity_model_fit",
    "weekly_region_growth",
    # batch-18 additions (round 5)
    "work_location",
    "commute_matrix",
    # batch-19 additions (round 5)
    "od_symmetry",
    "user_regularity",
    # batch-20 additions (round 5)
    "vocab_growth_curve",
    "hub_dependence",
    # batch-21 additions (round 5)
    "region_visitor_diversity",
    "new_vs_returning_daily",
    # batch-22 additions (round 5)
    "median_jump_length",
    "trajectory_completeness",
    # batch-23 additions (round 6)
    "gap_outlier_report",
    "district_poi_profile",
    # batch-24 additions (round 6): TPC-H parity completion
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_profit_by_nation",
    "q12_priority_lateness",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    # batch-25 additions (round 6): mobility metrics + closeness
    "region_closeness",
    "exploration_curve",
    "user_burstiness",
    # batch-26 additions (round 6): dedup survivorship
    "dedup_survivors",
    "cluster_size_histogram",
    # batch-27 additions (round 7): composed end-to-end dedup pipeline
    # + the LSH set-similarity escape hatch as a first-class query
    "deduped_corpus_stats",
    "user_covisit_lsh",
    "near_dup_pairs_auto",
    # batch-28 addition (round 8): the recall-contract banding as a
    # first-class oracle-paired query
    "user_covisit_lsh_t90",
    # batch-29 additions (round 9): the DOC-level recall contract and
    # the IVF health report as first-class oracle-paired queries,
    # plus the two new dedup operator classes (complete-cover simhash
    # blocking; asymmetric containment)
    "near_dup_pairs_t90",
    "ivf_health_report",
    "simhash_hamming_pairs",
    "simhash_hamming_pairs_h6",
    "containment_pairs",
    "duplicate_spans",
    "span_cleaned_stats",
    "span_cleaned_text",
    "tf_cosine_pairs",
    "subsumption_prune",
    "subsumption_prune_fixpoint",
    # batch-30 additions (round 11): guard-routed APSS, the redaction
    # curation stage, and its one-pass composition with the span cut
    "tf_cosine_pairs_auto",
    "pii_pattern_spans",
    "pii_redacted_text",
    "pii_cut_text",
    "redacted_cleaned_text",
    "semantic_dedup",
    "semantic_dedup_kmeans",
    # batch-31 additions (round 12): URL/domain curation, the linear
    # quality scorer (alone + composed), and the PQ serving family
    "url_domain_extract",
    "per_domain_caps",
    "url_suffix_mix_counts",
    "domain_blocklist_kept",
    "url_canonicalized",
    "canonical_url_dedup",
    "per_domain_best",
    "linear_quality_scores",
    "curation_scored",
    "pq_adc_topk",
    "pq_topk_refined",
    "ivf_pq_topk",
    # round-13 additions: the composed IVF-PQ serving path, the Arrow
    # production-width encode, trained sub-codebooks, PSL
    # registered-domain extraction, and the new curation gates (alone
    # + fully composed)
    "ivf_pq_topk_refined",
    "pq_codes_production",
    "pq_topk_trained",
    "psl_registered_domains",
    "repetition_stats",
    "charlm_quality",
    "domain_mixture_alpha",
    "mixture_sampled_counts",
    "curation_full",
    # round-14 additions: in-engine classifier training (fit + apply)
    # and the 20-language char-trigram language-ID
    "scorer_trained",
    "scorer_trained_scores",
    "lang_id_ngram",
    "curation_scored_trained",
    "dsir_scores",
    "dsir_resampled_counts",
    "bpe_merges",
    "bpe_token_stats",
    "sq8_codes",
    "sq8_topk",
    # round-15 additions
    "lang_id_script",
    "bpe_token_stats_applied",
    "multimodal_decode_png",
    "multimodal_decode_jpeg",
    "scorer_trained_sig",
    "scorer_sig_scores",
    "curation_full_web",
    # round-15 second wave: script-aware quality + composed pipelines
    "script_quality_stats",
    "curation_multiscript",
    "sequence_packing_bpe",
    "near_dup_pairs_script",
    "kmv_distinct_merge",
    "kmv_jaccard_types",
    "sampled_percentiles",
    "benchmark_decontam_script",
    "matryoshka_recall",
    "language_mix_counts",
    "quality_calibrated",
    "dedup_survivors_script",
    "html_extracted_stats",
    "bpe_compression_by_lang",
]

# The 14 queries benched since round 1 — their median subtotal is the
# round-over-round comparable number (bench breadth grew in r2/r3).
COMMON14 = [
    "occupancy_by_region_hour",
    "trajectory_gap_fill",
    "od_fractions",
    "home_location",
    "pricing_summary",
    "revenue_by_brand",
    "top_orders_per_customer",
    "exact_dedup_docs",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "sessionization",
    "text_stats",
    "cosine_topk",
    "ann_bucketed",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("shflow-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]
    # BENCH_ONLY=a,b,c — subset run in a fresh JVM, the instrument for
    # separating session-load drift (GC/scheduler pressure from a
    # 46-query session) from real per-query regressions (VERDICT r4 #2)
    only = os.environ.get("BENCH_ONLY")
    if only:
        wanted = {w.strip() for w in only.split(",") if w.strip()}
        names = [n for n in names if n in wanted]
    iters = int(os.environ.get("BENCH_ITERS", "3"))  # driver default: n=3

    # Order randomization (round 7): BENCH_DRIFT_r5/r6 each burned a
    # round proving that sub-second queries inflate with SESSION
    # POSITION (GC/scheduler pressure by query ~55+), not with plan
    # changes. Rotating the tail order per round de-correlates a
    # query's timing from its position, so a cross-round mover that
    # also moved positions is presumptively position noise, while a
    # true regression survives rotation. The common-14 gate prefix
    # stays FIRST and in fixed order — its subtotal remains comparable
    # to every earlier round. Seed: BENCH_SEED env (the reproducible
    # path — the order and seed are recorded in the output, so a replay
    # passes the recorded seed back), else the round number parsed from
    # the COMMITTED VERDICT.md header (+1: the verdict describes the
    # PREVIOUS round) — committed state only, so a clean checkout of
    # the same commit always reproduces the same order regardless of
    # untracked/stale bench artifacts in the working tree.
    import random
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    seed_env = os.environ.get("BENCH_SEED")
    seed_file = os.path.join(here, "BENCH_SEED")
    if seed_env is not None:
        # the driver-protocol path (round 9, VERDICT r8 #5): explicit,
        # reproducible, no prose parsing — the recorded seed +
        # seed_source round-trip through the output JSON
        seed = int(seed_env)
        seed_source = "env"
    elif os.path.exists(seed_file):
        # the COMMITTED explicit path (round 10, VERDICT r9 #7: the
        # driver does not export BENCH_SEED, so the explicit protocol
        # moves into the repo — a bare-int file, bumped per round,
        # reproducible from any clean checkout, no prose parsing; the
        # VERDICT-header fallback below goes dormant while this file
        # exists)
        with open(seed_file) as fh:
            seed = int(fh.readline().strip())
        seed_source = "file"
    else:
        seed = 1
        seed_source = "frozen"
        verdict = os.path.join(here, "VERDICT.md")
        if os.path.exists(verdict):
            # fallback/warning path only: parse the round number from
            # the COMMITTED VERDICT header LINE (anchored `^#.*Round N`
            # — round-9 ADVICE: an unanchored search could match a
            # body mention of an earlier round and silently shift the
            # tail order; the header line is the authoritative one)
            with open(verdict) as fh:
                m = re.search(r"^#.*?\bRound\s+(\d+)", fh.read(4096), re.M)
            if m:
                seed = int(m.group(1)) + 1
                seed_source = "verdict"
                print(
                    "bench: tail-order seed derived from VERDICT.md "
                    f"header (round {m.group(1)} -> seed {seed}); pass "
                    "BENCH_SEED for the explicit protocol path",
                    file=sys.stderr,
                )
            else:
                print(
                    "bench: no round number in VERDICT.md header; "
                    "tail-order seed frozen at 1 (pass BENCH_SEED)",
                    file=sys.stderr,
                )
    common_prefix = [n for n in names if n in COMMON14]
    tail = [n for n in names if n not in COMMON14]
    random.Random(seed).shuffle(tail)
    names = common_prefix + tail

    def run(name: str) -> None:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    # A raising query is recorded (name, exception class, phase), left
    # out of every total, and the run goes on; the process exits
    # non-zero at the end so a partial run is never mistaken for a
    # clean one.
    failures: list[dict] = []
    for name in names:
        phase = "warmup"
        try:
            run(name)  # warm-up: plan compile + codegen, not timed
            phase = "timed"
            samples = []
            for _ in range(iters):
                t0 = time.perf_counter()
                run(name)
                samples.append(time.perf_counter() - t0)
        except Exception as e:
            failures.append(
                {"name": name, "error": type(e).__name__, "phase": phase}
            )
            # leading newline: Spark's console progress bar leaves the
            # cursor mid-line on stderr
            print(f"\nbench: {name} failed in {phase}:", file=sys.stderr)
            traceback.print_exc()
            continue
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        spread[name] = round(samples[-1] - samples[0], 3)

    total = round(sum(timings.values()), 3)
    common14_session = round(
        sum(timings[n] for n in COMMON14 if n in timings), 3
    )
    # Isolated common-14 pass (round 14, VERDICT r13 #2): the
    # in-session subtotal drifted 9.8 → 14.0 s across rounds 12→13
    # while THREE independent fresh-JVM measurements of the same
    # commit sat at 10.3–11.4 s — cumulative JVM/codegen/GC state from
    # the ever-growing full-registry session, not a plan change (no
    # common-14 code path moved). The comparable number must not
    # depend on how many OTHER queries the registry has grown, so the
    # headline `common14_total` is now measured in its OWN fresh JVM
    # (a subprocess re-invoking this script with BENCH_ONLY=<the 14>,
    # same iters/stat/warmup protocol, order fixed as always), and the
    # in-session subtotal is kept alongside as
    # `common14_total_session` for continuity with earlier rounds.
    # BENCH_NO_ISOLATED=1 skips the subprocess (quick local loops).
    common14 = common14_session
    common14_mode = "session"
    ran_full_set = not only and all(n in timings for n in COMMON14)
    # Stop the parent session BEFORE spawning the isolated subprocess
    # (VERDICT r14 "What's wrong" #1 / ADVICE r14): with the
    # 180+-query parent JVM still alive, the "isolated" number carried
    # CPU/memory contention from the very session it was built to
    # escape (driver r14: 14.695 s isolated-under-load vs 10.3-11.7 s
    # in genuinely fresh JVMs). Nothing after the timing loop needs
    # the session, so stop it — and shut the Py4J gateway down so the
    # local[32] JVM actually exits — then measure.
    spark.stop()
    try:  # best-effort: let the JVM process die, not just the context
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
    except Exception:
        pass
    if ran_full_set and not os.environ.get("BENCH_NO_ISOLATED"):
        import subprocess

        env = dict(os.environ)
        env["BENCH_ONLY"] = ",".join(COMMON14)
        env["BENCH_ITERS"] = str(iters)
        env["BENCH_SEED"] = str(seed)
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env,
                capture_output=True,
                text=True,
                timeout=3600,
            )
            line = [
                ln
                for ln in proc.stdout.strip().splitlines()
                if ln.startswith("{")
            ][-1]
            isolated = json.loads(line)
            if "failures" in isolated:
                raise RuntimeError(f"failed queries {isolated['failures']}")
            common14 = float(isolated["common14_total"])
            common14_mode = "isolated"
        except Exception as e:  # fall back to the session number
            print(f"bench: isolated common-14 pass failed: {e}",
                  file=sys.stderr)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "protocol": {
            "iters": iters,
            "stat": "median",
            "warmup": 1,
            "order_seed": seed,
            "seed_source": seed_source,
            "order": names,
            "common14_mode": common14_mode,
        },
        "spread": spread,
        "common14_total": common14,
        "common14_total_session": common14_session,
    }
    if failures:
        result["failures"] = failures
    # full detail goes to a file (committed per round); stdout carries
    # the one-line contract LAST, after spark.stop(), so a tail-capture
    # of stdout always ends at a complete, parseable JSON line
    # (BENCH_r04.json was clipped mid-JSON by exactly this failure)
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    print(json.dumps(result))
    sys.stdout.flush()
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
