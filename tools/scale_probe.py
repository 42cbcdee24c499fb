"""Scale probe: replicate the input tables N× (disjoint id spaces)
and measure operator families, to check that runtime grows as designed
and the plan shape holds.

Usage:
    python tools/scale_probe.py [N] [sf_dir]            # trajectory+hygiene chain
    python tools/scale_probe.py --family ann [N] [sf_dir]
    python tools/scale_probe.py --family setsim [N] [sf_dir]
    python tools/scale_probe.py --family cc [N] [sf_dir]

Writes scaled tables to /tmp and prints one JSON line with per-stage
seconds. Replication designs per family:

- ann: embeddings N× in disjoint vec_id spaces (queries fixed to the
  rep-0 vectors). Brute-force top-k is Θ(N); sign-bucket ANN re-derives
  nbits ≈ log2(N·2000/16) so in-bucket candidates stay ~constant.
- setsim: events N× — N× more users over the SAME bounded cell grid,
  so qualifying pairs grow ~N² (the documented dense-regime Ω(U²)
  bound of the exact set-similarity join; the probe MEASURES the
  exponent instead of asserting linearity).
- cc: documents N× with identical text — every near-dup group gains
  N× members (worst case for LSH pair growth and for CC convergence).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark import (
    operators as ops,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.session import (
    get_spark,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
    load_events,
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_ann(spark, sf_dir: str, n: int) -> dict:
    """ANN family: time AND recall@k vs scale. The corpus is
    perturbed-replicated (rep 0 verbatim, reps 1..n−1 md5-noised
    near-duplicates — identical copies would make recall trivially
    1.0); queries are 5 rep-0 vectors, so each query's true top-3 are
    its perturbed replicas. Recall is scored for every approximate
    path against the brute-force result on the SAME corpus — the
    round-7 measurement the α=0.08 time curve was missing: adaptive
    nbits holds candidates ~constant by shrinking buckets, which is
    exactly how recall decays."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_fit,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        banded_ann_topk,
        brute_force_topk,
        bucketed_ann_topk,
        ivf_assign,
        ivf_centroid_rows,
        ivf_topk,
        perturbed_replicas,
        recall_against,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    copies = perturbed_replicas(emb, n, noise=0.3)
    out = os.path.join(tempfile.gettempdir(), f"embeddings_x{n}.parquet")
    copies.write.mode("overwrite").parquet(out)
    scaled = spark.read.parquet(out)
    results = {"family": "ann", "replication": n, "rows": scaled.count()}
    queries = scaled.filter(F.col("vec_id") < 5)

    t0 = time.perf_counter()
    bf = brute_force_topk(scaled, queries, k=3, dim=64)
    bf_rows = bf.persist()
    bf_rows.count()
    results["brute_force_topk_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    bucketed = bucketed_ann_topk(scaled, queries, k=3, dim=64, multi_probe=1)
    results["ann_bucketed_recall"] = recall_against(bf_rows, bucketed)
    results["ann_bucketed_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    banded = banded_ann_topk(scaled, queries, k=3, n_tables=4, dim=64)
    results["ann_banded_recall"] = recall_against(bf_rows, banded)
    results["ann_banded_s"] = round(time.perf_counter() - t0, 2)

    # index BUILD (centroid pick + corpus assignment, materialized —
    # the inverted file) and SERVE (probe join + candidate cos +
    # top-k over the prebuilt index) timed separately: a real IVF
    # index is built once per corpus state and served many times, so
    # the scaling claim that matters is the serve-side one.
    t0 = time.perf_counter()
    cent = ivf_centroid_rows(scaled, 16)
    ivf_dir = os.path.join(tempfile.gettempdir(), f"ivf_index_x{n}.parquet")
    ivf_assign(scaled, cent, dim=64).write.mode("overwrite").parquet(ivf_dir)
    results["ivf_build_s"] = round(time.perf_counter() - t0, 2)
    index = spark.read.parquet(ivf_dir)
    t0 = time.perf_counter()
    served = ivf_topk(
        scaled, queries, k=3, n_centroids=16, nprobe=4, dim=64,
        centroids=cent, assigned=index,
    )
    results["ivf_recall"] = recall_against(bf_rows, served)
    results["ivf_serve_s"] = round(time.perf_counter() - t0, 2)

    # trained (3 Lloyd rounds) coarse quantizer — the ivf_topk_kmeans
    # registered path; training is part of build time by definition
    t0 = time.perf_counter()
    vec = scaled.select(
        "vec_id", as_double_array(F.col("embedding")).alias("vec")
    )
    cents_km, _ = kmeans_fit(vec, k=16, iterations=3)
    cent_km = sorted((int(c), list(v)) for c, v in cents_km.items())
    km_dir = os.path.join(tempfile.gettempdir(), f"ivf_km_index_x{n}.parquet")
    ivf_assign(scaled, cent_km, dim=64).write.mode("overwrite").parquet(km_dir)
    results["ivf_kmeans_build_s"] = round(time.perf_counter() - t0, 2)
    km_index = spark.read.parquet(km_dir)
    t0 = time.perf_counter()
    served_km = ivf_topk(
        scaled, queries, k=3, n_centroids=16, nprobe=4, dim=64,
        centroids=cent_km, assigned=km_index,
    )
    results["ivf_kmeans_recall"] = recall_against(bf_rows, served_km)
    results["ivf_kmeans_serve_s"] = round(time.perf_counter() - t0, 2)
    bf_rows.unpersist()
    return results


def probe_setsim(spark, sf_dir: str, n: int) -> dict:
    """Set-similarity family: EXACT (dense-bitmap) vs LSH vs the
    round-7 AUTO router on the covisit workload, plus the recall
    contract's choose_lsh_params bandings (``covisit_lsh_t80_*``,
    ``covisit_lsh_t95_*``). The probe publishes the router's inputs
    (n_keys, cand_pairs) and decision, then times every path so the
    JSONL shows the auto path (which computes its own stats) tracking
    the LSH curve, not the measured Ω(U²) exact one. Set
    SETSIM_SKIP_EXACT=1 to skip the quadratic reference at large N
    once its exponent is established."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        choose_lsh_params,
        choose_set_similarity_path,
        lsh_collision_probability,
        set_similarity_join,
        set_similarity_join_auto,
        set_similarity_join_lsh,
        set_similarity_stats,
    )

    base = load_events(spark, sf_dir)
    copies = base.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
        "value",
    )
    out = os.path.join(tempfile.gettempdir(), f"events_ss_x{n}.parquet")
    copies.write.mode("overwrite").parquet(out)
    scaled = spark.read.parquet(out)
    results = {"family": "setsim", "replication": n, "rows": scaled.count()}
    cells = 2000
    # same cell derivation as the registered user_covisit_jaccard query
    sets = scaled.select(
        "user_id",
        F.pmod(F.floor(F.col("value")).cast("long"), F.lit(cells)).alias(
            "cell"
        ),
    ).distinct()
    stats = set_similarity_stats(sets, "user_id", "cell")
    results["n_keys"] = stats["n_keys"]
    results["cand_pairs_bound"] = int(stats["cand_pairs"])
    results["auto_path"] = choose_set_similarity_path(stats)

    n_exact = None
    if not os.environ.get("SETSIM_SKIP_EXACT"):
        t0 = time.perf_counter()
        pairs = set_similarity_join(
            sets, "user_id", "cell",
            threshold_num=3, threshold_den=10,
            dense_bitmap_domain=cells,
        )
        n_exact = pairs.count()
        results["covisit_s"] = round(time.perf_counter() - t0, 2)
        results["covisit_pairs"] = n_exact

    t0 = time.perf_counter()
    lsh = set_similarity_join_lsh(
        sets, "user_id", "cell",
        threshold_num=3, threshold_den=10,
        dense_bitmap_domain=cells,
    )
    n_lsh = lsh.count()
    results["covisit_lsh_s"] = round(time.perf_counter() - t0, 2)
    results["covisit_lsh_pairs"] = n_lsh
    if n_exact:
        results["lsh_recall"] = round(n_lsh / n_exact, 4)

    t0 = time.perf_counter()
    auto = set_similarity_join_auto(
        sets, "user_id", "cell",
        threshold_num=3, threshold_den=10,
    )
    results["covisit_auto_pairs"] = auto.count()
    results["covisit_auto_s"] = round(time.perf_counter() - t0, 2)

    # recall contract: the midpoint banding sits at ~0.5 recall AT the
    # threshold by construction; measure the choose_lsh_params banding
    # at two targets against the exact pair count — cost curve (k
    # grows with target) included
    for tgt, label in [(0.8, "t80"), (0.95, "t95")]:
        k, bands = choose_lsh_params(3, 10, tgt)
        t0 = time.perf_counter()
        j = set_similarity_join_lsh(
            sets, "user_id", "cell",
            threshold_num=3, threshold_den=10,
            k=k, bands=bands,
            dense_bitmap_domain=cells,
        )
        n_t = j.count()
        results[f"covisit_lsh_{label}_s"] = round(time.perf_counter() - t0, 2)
        results[f"covisit_lsh_{label}_pairs"] = n_t
        results[f"covisit_lsh_{label}_k"] = k
        results[f"covisit_lsh_{label}_bands"] = bands
        results[f"covisit_lsh_{label}_expected"] = round(
            lsh_collision_probability(0.3, k, bands), 4
        )
        if n_exact:
            results[f"covisit_lsh_{label}_recall"] = round(n_t / n_exact, 4)
    return results


def probe_lsh_hotband(spark, sf_dir: str, n: int) -> dict:
    """Hot-band signature quotient (round-8 task #2): plant boilerplate
    groups — ``n`` byte-DISTINCT case-variants per base doc (identical
    shingle sets after lowercasing ⟹ identical whole signatures, but
    distinct md5(text), so the exact-text pre-collapse cannot absorb
    them) — and measure:

    - the candidate PAIR join (the bands× band-join multiplier and the
      C(g,2) output floor);
    - the CLUSTERING composition (near_dup_components) with the
      round-8 signature-class star expansion vs the clique pipeline
      ``connected_components(lsh_pairs_from_bands(bands))`` — the
      end-to-end near-flat path (Θ(g) rows per group instead of Θ(g²)
      pair rows), cluster fingerprints asserted identical."""
    import hashlib

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        connected_components,
        near_dup_components,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        lsh_pairs_from_bands,
        minhash_bands,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    # n case-variants per base doc: uppercase the (i mod n_words)-th
    # word — byte-distinct, shingle-identical
    variants = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") * 1000 + F.col("rep")).alias("doc_id"),
        F.expr(
            "array_join(transform(split(text, ' '), (w, i) -> "
            "CASE WHEN i = int(rep % size(split(text, ' '))) "
            "THEN upper(w) ELSE w END), ' ')"
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out = os.path.join(tempfile.gettempdir(), f"docs_hotband_x{n}.parquet")
    variants.write.mode("overwrite").parquet(out)
    sdocs = spark.read.parquet(out)
    results = {"family": "lsh_hotband", "replication": n, "rows": sdocs.count()}

    def fp_pairs(df):
        # distributed order-insensitive fingerprint: count + the sum of
        # a 48-bit md5 slice per pair — no driver-side pair collect, so
        # the probe scales to g=256 (6.5M-pair output floors)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(":", F.col("doc_a"), F.col("doc_b"))
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("decimal(38,0)")
            ).alias("s"),
        ).collect()[0]
        return f"{row.n}:{row.s}", int(row.n)

    bands_df = minhash_bands(sdocs).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    fp_u, n_u = fp_pairs(lsh_pairs_from_bands(bands_df))
    results["pairs_uncapped_s"] = round(time.perf_counter() - t0, 2)
    results["pairs"] = n_u
    results["pairs_fp_uncapped"] = fp_u

    # The structural metric: CC input volume. The clique pipeline
    # feeds C(g,2)-per-group pair rows into label propagation; the
    # star pipeline feeds rep-level pairs + Θ(g) membership rows.
    # Wall times at local g are overhead-bound (±1.5 s run variance,
    # both paths); the row shape is what survives a 1000× scale-up.
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        signature_digest,
    )

    sigd = signature_digest(bands_df)
    cls = sigd.groupBy("__sig").agg(F.min("doc_id").alias("rep2"))
    rep_bands = bands_df.join(
        cls.select(F.col("rep2").alias("doc_id")), "doc_id"
    )
    rep_pairs = lsh_pairs_from_bands(rep_bands).count()
    results["cc_input_rows_clique"] = n_u
    results["cc_input_rows_star"] = rep_pairs + results["rows"]

    def fp_comp(df, id_col="doc_id"):
        rows = sorted((r[id_col], r.component) for r in df.collect())
        return hashlib.md5(repr(rows).encode()).hexdigest()[:16], len(rows)

    t0 = time.perf_counter()
    fp_q, members = fp_comp(near_dup_components(sdocs))
    results["cc_star_s"] = round(time.perf_counter() - t0, 2)
    # near_dup_components persists its digest and band tables
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    fp_k, _ = fp_comp(
        connected_components(
            lsh_pairs_from_bands(bands_df), max_iterations=30
        ),
        id_col="node",
    )
    results["cc_clique_s"] = round(time.perf_counter() - t0, 2)
    results["cc_members"] = members
    results["cc_fp_star"] = fp_q
    results["cc_fp_clique"] = fp_k
    assert fp_q == fp_k
    return results


def probe_dedup_e2e(spark, sf_dir: str, n: int) -> dict:
    """Composed dedup pipeline at scale (round-8 task #5): the
    deduped_corpus_stats composition — pairs → CC → keep-longest
    survivors → surviving-corpus per-lang profile — on an
    N×-replicated corpus (disjoint doc_id spaces, identical text).
    Replication design makes the outputs REPLICATION-INVARIANT: every
    cluster gains N× members, the keep-longest tie-break (smallest
    doc_id) always picks the rep-0 document, so the survivor ID SET
    and the per-lang profile must be identical at every N — the
    fingerprints turn the scale run into a correctness check of the
    whole composition."""
    import hashlib

    import __spark_entry__ as entry
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions import (
        text as tx,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        near_dup_components,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    dout = os.path.join(tempfile.gettempdir(), f"documents_e2e_x{n}.parquet")
    dcopies.write.mode("overwrite").parquet(dout)
    sdocs = spark.read.parquet(dout)
    results = {"family": "dedup_e2e", "replication": n, "rows": sdocs.count()}

    t0 = time.perf_counter()
    comp = near_dup_components(sdocs, k=8, bands=4, n=3)
    surv = entry._survivor_table(sdocs, comp).select(
        (-F.col("top.nd")).alias("doc_id")
    )
    surviving = sdocs.join(surv, "doc_id")
    stats_df = surviving.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(tx.token_count(F.col("text")).cast("long")).alias("n_tokens"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        F.countDistinct("source").alias("n_sources"),
    )
    rows = sorted(tuple(map(repr, r)) for r in stats_df.collect())
    results["e2e_s"] = round(time.perf_counter() - t0, 2)
    results["lang_stats_fp"] = hashlib.md5(repr(rows).encode()).hexdigest()[:16]
    surv_ids = sorted(r.doc_id for r in surv.collect())
    results["survivors"] = len(surv_ids)
    results["survivor_fp"] = hashlib.md5(repr(surv_ids).encode()).hexdigest()[
        :16
    ]
    spark.catalog.clearCache()
    return results


def probe_ingest_compact(spark, sf_dir: str, n: int) -> dict:
    """Band-index retention (round-8 task #3): drive ``n`` ingest
    epochs of fresh documents through the generation-chain band index
    twice — once with the sliding-window retention compaction armed,
    once unbounded — and record the per-merge wall curve. Without
    retention the merge is a full-table rewrite of a monotonically
    growing index (cost ∝ epoch); with the horizon the table is
    bounded at the window's working set and merge cost goes flat.
    Parity of the retained window is pinned by the pytest; here the
    curves and final table sizes are the measurement."""
    import shutil as _sh

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        minhash_bands,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
    )

    docs = load_table(spark, sf_dir, "documents")
    results = {"family": "ingest_compact", "epochs": n}
    horizon, every = 4, 2
    # Pre-materialize every epoch's delta band table (8×-replicated
    # docs per epoch, disjoint ids) so the timed loop measures ONLY
    # the generation-chain merge — the rewrite cost curve under test —
    # not the per-batch shingle/minhash compute, which dominates
    # otherwise and is identical in both runs by construction.
    batch8 = docs.crossJoin(
        spark.range(8).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"), "text"
    )
    delta_dirs = []
    for epoch in range(n):
        d = os.path.join(
            tempfile.gettempdir(), f"bandidx_delta_x{n}_e{epoch}"
        )
        delta_dirs.append(d)
        if os.path.isdir(d):
            continue
        (
            minhash_bands(
                batch8.select(
                    (F.col("doc_id") + epoch * 100_000_000).alias("doc_id"),
                    "text",
                )
            )
            .groupBy("doc_id", "band", "band_hash")
            .agg(
                F.count("*").alias("cnt"),
                F.lit(epoch).cast("long").alias("last_epoch"),
            )
            .write.mode("overwrite")
            .parquet(d)
        )
    results["delta_rows_per_epoch"] = spark.read.parquet(
        delta_dirs[0]
    ).count()

    def run(label: str, retained: bool) -> None:
        path = os.path.join(tempfile.gettempdir(), f"bandidx_{label}_x{n}")
        if os.path.isdir(path):
            _sh.rmtree(path)
        table = IncrementalCountTable(
            spark,
            path,
            ["doc_id", "band", "band_hash"],
            max_measures=("last_epoch",),
        )
        merge_s = []
        for epoch in range(n):
            delta = spark.read.parquet(delta_dirs[epoch])
            t0 = time.perf_counter()
            table.merge_batch(delta, epoch)
            if retained and epoch > 0 and epoch % every == 0:
                table.compact(F.col("last_epoch") >= F.lit(epoch - horizon))
            merge_s.append(round(time.perf_counter() - t0, 2))
        results[f"{label}_merge_s"] = merge_s
        results[f"{label}_first4_s"] = round(sum(merge_s[:4]), 2)
        results[f"{label}_last4_s"] = round(sum(merge_s[-4:]), 2)
        results[f"{label}_final_rows"] = table.read().count()

    run("unbounded", retained=False)
    run("retained", retained=True)
    return results


def probe_ingest_narrow(spark, sf_dir: str, n: int) -> dict:
    """Partition-narrowed merge vs monolithic rewrite (round-8,
    VERDICT r7 #3 structural half): ``n`` epochs of hour-keyed count
    deltas (200k rows each, pre-materialized so only the MERGE is
    timed; every epoch opens a fresh hour and drops one late row into
    an old hour — the watermark shape). The monolithic chain rewrites
    the whole table per merge — cost grows linearly with epochs; the
    partitioned chain rewrites the touched partitions only — cost
    flat, untouched partition dirs reused verbatim (manifest
    identity pytest-pinned)."""
    import shutil as _sh

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        PartitionedIncrementalCountTable,
    )

    del sf_dir
    # 2M DISTINCT keys per epoch: the monolithic rewrite must dwarf
    # fixed job overhead for the cost curve to be visible (a 24-epoch
    # run ends at a 48M-row table; the earlier 200k/epoch cut ended at
    # 1.2M rows and both chains sat on the ~0.6 s job-overhead floor)
    rows_per_epoch = 2_000_000
    results = {
        "family": "ingest_narrow",
        "epochs": n,
        "rows_per_epoch": rows_per_epoch,
    }
    delta_dirs = []
    for e in range(n):
        d = os.path.join(tempfile.gettempdir(), f"narrow_delta_{e}")
        delta_dirs.append(d)
        if os.path.isdir(d):
            continue
        base = spark.range(rows_per_epoch).select(
            F.lit(f"h{e:03d}").alias("hour"),
            F.col("id").cast("int").alias("region"),
            F.lit(1).cast("long").alias("cnt"),
        )
        if e > 0:
            base = base.unionByName(
                spark.range(1).select(
                    F.lit("h000").alias("hour"),
                    F.lit(7).cast("int").alias("region"),
                    F.lit(1).cast("long").alias("cnt"),
                )
            )
        base.write.mode("overwrite").parquet(d)

    def run(label: str, make_table):
        path = os.path.join(tempfile.gettempdir(), f"narrow_{label}_x{n}")
        if os.path.isdir(path):
            _sh.rmtree(path)
        table = make_table(path)
        merge_s = []
        for e in range(n):
            delta = spark.read.parquet(delta_dirs[e])
            t0 = time.perf_counter()
            table.merge_batch(delta, e)
            merge_s.append(round(time.perf_counter() - t0, 2))
        results[f"{label}_merge_s"] = merge_s
        results[f"{label}_first4_s"] = round(sum(merge_s[:4]), 2)
        results[f"{label}_last4_s"] = round(sum(merge_s[-4:]), 2)
        results[f"{label}_final_rows"] = table.read().count()

    run(
        "monolithic",
        lambda p: IncrementalCountTable(spark, p, ["hour", "region"]),
    )
    run(
        "partitioned",
        lambda p: PartitionedIncrementalCountTable(
            spark, p, ["hour", "region"], partition_col="hour"
        ),
    )
    return results


def probe_doc_contract(spark, sf_dir: str, n: int) -> dict:
    """Doc-level recall contract, MEASURED (round 9 — the covisit
    contract got this in round 8; the doc contract should not rest on
    math + oracle alone): a planted-Jaccard corpus of ``n`` doc pairs
    PER overlap level — pair p's two docs share a (L−d)-token prefix
    of pair-unique tokens, so their 3-gram shingle sets overlap in
    exactly s = L−d−2 of 2(L−2)−s, i.e. a KNOWN J per d, no
    cross-pair collisions. Measures the banded candidate rate at each
    J for the contract banding choose_lsh_params(1,2,0.9) = (54, 18)
    vs the midpoint default (16, 8), against the analytic
    1−(1−J^r)^b. The contract's claim is a FLOOR: rate ≥ 0.9 for
    every J ≥ 0.5 (verification is exact, so candidates are the only
    place recall can be lost)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        lsh_pairs_from_bands,
        minhash_bands,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        choose_lsh_params,
        lsh_collision_probability,
    )

    del sf_dir
    L = 52  # tokens per doc -> 50 shingles
    deltas = [8, 12, 17, 22, 28]  # replaced-suffix lengths -> J levels
    rows = []
    for di, d in enumerate(deltas):
        for p in range(n):
            pid = di * n + p
            shared = [f"p{pid}w{i}" for i in range(L - d)]
            a = shared + [f"p{pid}a{i}" for i in range(d)]
            b = shared + [f"p{pid}b{i}" for i in range(d)]
            rows.append((2 * pid, " ".join(a), d))
            rows.append((2 * pid + 1, " ".join(b), d))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, d int"
    ).persist()
    results = {"family": "doc_contract", "pairs_per_level": n, "levels": {}}
    k_c, b_c = choose_lsh_params(1, 2, target_recall=0.9)
    schemes = {"contract": (k_c, b_c), "midpoint": (16, 8)}
    cand = {}
    for label, (k, bands) in schemes.items():
        bands_df = minhash_bands(docs, k=k, bands=bands, n=3)
        pairs = lsh_pairs_from_bands(bands_df)
        # planted pair = (2p, 2p+1); count candidates per level
        hit = (
            pairs.filter(
                (F.col("doc_b") == F.col("doc_a") + 1)
                & (F.col("doc_a") % 2 == 0)
            )
            .select((F.col("doc_a") / 2).cast("long").alias("pid"))
            .withColumn("level", (F.col("pid") / n).cast("int"))
            .groupBy("level")
            .count()
        )
        cand[label] = {r.level: r["count"] for r in hit.collect()}
    for di, d in enumerate(deltas):
        s = L - d - 2
        j = s / (2 * (L - 2) - s)
        results["levels"][f"d{d}"] = {
            "jaccard": round(j, 4),
            "expected_contract": round(
                lsh_collision_probability(j, k_c, b_c), 4
            ),
            "measured_contract": round(cand["contract"].get(di, 0) / n, 4),
            "expected_midpoint": round(
                lsh_collision_probability(j, 16, 8), 4
            ),
            "measured_midpoint": round(cand["midpoint"].get(di, 0) / n, 4),
        }
    results["contract_banding"] = [k_c, b_c]
    docs.unpersist()
    return results


def probe_ingest_backfill(spark, sf_dir: str, n: int) -> dict:
    """Backfill degradation crossover (round 9, VERDICT r8 #4): merge
    cost vs TOUCHED-PARTITION COUNT for the per-partition narrow path
    (one filtered read+write job per partition) vs the bulk path (one
    combined read → combine → partitionBy write). ``n`` = partitions
    in the base table. A watermark-shaped delta touches 1–2
    partitions — narrow wins by skipping the wide shuffle; a backfill
    touching dozens pays per-partition job overhead linearly — bulk
    is ~flat. The measured crossover sets
    PartitionedIncrementalCountTable.bulk_threshold's default. State
    parity between strategies is fingerprint-checked at every T."""
    import shutil as _sh

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        PartitionedIncrementalCountTable,
    )

    del sf_dir
    parts = n
    rows_per_part = 50_000
    results = {
        "family": "ingest_backfill",
        "base_partitions": parts,
        "rows_per_partition": rows_per_part,
    }
    base_delta_dir = os.path.join(
        tempfile.gettempdir(), f"backfill_base_{parts}"
    )
    if not os.path.isdir(base_delta_dir):
        spark.range(parts * rows_per_part).select(
            F.concat(
                F.lit("h"),
                F.lpad((F.col("id") % parts).cast("string"), 3, "0"),
            ).alias("hour"),
            (F.col("id") / parts).cast("int").alias("region"),
            F.lit(1).cast("long").alias("cnt"),
        ).write.mode("overwrite").parquet(base_delta_dir)
    touched_counts = [t for t in (1, 2, 4, 8, 16, 32, parts) if t <= parts]
    delta_dirs = {}
    for t in touched_counts:
        d = os.path.join(tempfile.gettempdir(), f"backfill_delta_{parts}_{t}")
        delta_dirs[t] = d
        if os.path.isdir(d):
            continue
        spark.range(t * 10_000).select(
            F.concat(
                F.lit("h"),
                F.lpad((F.col("id") % t).cast("string"), 3, "0"),
            ).alias("hour"),
            (F.col("id") / t).cast("int").alias("region"),
            F.lit(1).cast("long").alias("cnt"),
        ).write.mode("overwrite").parquet(d)

    def fp(table):
        return (
            table.read()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.conv(
                        F.md5(
                            F.concat_ws("|", "hour", "region", "cnt")
                        ).substr(1, 8),
                        16,
                        10,
                    ).cast("long")
                ).alias("h"),
            )
            .collect()[0]
        )

    def run(label: str, threshold: int) -> list:
        path = os.path.join(
            tempfile.gettempdir(), f"backfill_{label}_{parts}"
        )
        if os.path.isdir(path):
            _sh.rmtree(path)
        table = PartitionedIncrementalCountTable(
            spark,
            path,
            ["hour", "region"],
            partition_col="hour",
            bulk_threshold=threshold,
        )
        # epoch 0: seed all partitions (bulk for both configs — not
        # what is being measured)
        table.merge_batch(spark.read.parquet(base_delta_dir), 0)
        times, fps = [], []
        for e, t in enumerate(touched_counts, start=1):
            delta = spark.read.parquet(delta_dirs[t])
            t0 = time.perf_counter()
            table.merge_batch(delta, e)
            times.append(round(time.perf_counter() - t0, 2))
            fps.append(tuple(fp(table)))
        results[f"{label}_merge_s"] = dict(zip(map(str, touched_counts), times))
        return fps

    fp_narrow = run("narrow", 10**9)  # per-partition always
    fp_bulk = run("bulk", 0)  # bulk always
    assert fp_narrow == fp_bulk, "strategy parity broke"
    results["touched_counts"] = touched_counts
    results["state_parity"] = True
    return results


def probe_ingest_epochs(spark, sf_dir: str, n: int) -> dict:
    """Long-horizon manifest-chain behavior (round 9, VERDICT r8 #7):
    ``n`` (≥200) watermark-shaped epochs against the partitioned
    table — each opens a fresh hour and drops one late row into h000.
    Records the merge-cost curve (must stay FLAT: cost tracks the
    touched partitions, never the table or the generation count) and
    the on-disk accounting at the end: manifest files (bounded by the
    retain window), generation dirs (every one referenced by a kept
    manifest — GC leaves no orphans), parquet files per partition dir
    (AQE coalescing should keep small merged partitions at ~1 file;
    this is the small-file monitor)."""
    import shutil as _sh

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        PartitionedIncrementalCountTable,
    )

    del sf_dir
    rows_per_epoch = 20_000
    results = {
        "family": "ingest_epochs",
        "epochs": n,
        "rows_per_epoch": rows_per_epoch,
    }
    path = os.path.join(tempfile.gettempdir(), f"epochs_x{n}")
    if os.path.isdir(path):
        _sh.rmtree(path)
    table = PartitionedIncrementalCountTable(
        spark, path, ["hour", "region"], partition_col="hour"
    )
    merge_s = []
    for e in range(n):
        delta = spark.range(rows_per_epoch).select(
            F.lit(f"h{e:03d}").alias("hour"),
            F.col("id").cast("int").alias("region"),
            F.lit(1).cast("long").alias("cnt"),
        )
        if e > 0:
            delta = delta.unionByName(
                spark.range(1).select(
                    F.lit("h000").alias("hour"),
                    F.lit(7).cast("int").alias("region"),
                    F.lit(1).cast("long").alias("cnt"),
                )
            )
        t0 = time.perf_counter()
        table.merge_batch(delta, e)
        merge_s.append(round(time.perf_counter() - t0, 2))
    results["first10_s"] = round(sum(merge_s[:10]), 2)
    results["last10_s"] = round(sum(merge_s[-10:]), 2)
    results["every_25th_s"] = merge_s[::25]
    # on-disk accounting
    import json as _json

    manifests = [
        m
        for m in os.listdir(path)
        if m.startswith("manifest_") and not m.endswith(".tmp")
    ]
    gen_dirs = [d for d in os.listdir(path) if d.startswith("gen_")]
    with open(os.path.join(path, "CURRENT")) as f:
        cur = _json.load(f)
    with open(os.path.join(path, cur["gen"])) as f:
        parts = _json.load(f)["parts"]
    # orphans = gen dirs referenced by NO surviving manifest (GC keeps
    # current + parent + the retain window; their references must
    # cover every dir still on disk)
    referenced = set()
    for m in manifests:
        with open(os.path.join(path, m)) as f:
            for rel in _json.load(f)["parts"].values():
                referenced.add(rel.split(os.sep)[0])
    files_per_dir = []
    for rel in parts.values():
        d = os.path.join(path, rel)
        files_per_dir.append(
            len([x for x in os.listdir(d) if x.endswith(".parquet")])
        )
    results["n_manifests"] = len(manifests)
    results["n_gen_dirs"] = len(gen_dirs)
    results["n_partitions"] = len(parts)
    results["orphan_gen_dirs"] = len(
        [d for d in gen_dirs if d not in referenced]
    )
    results["max_files_per_partition_dir"] = max(files_per_dir)
    results["mean_files_per_partition_dir"] = round(
        sum(files_per_dir) / len(files_per_dir), 2
    )
    results["final_rows"] = table.read().count()
    return results


def probe_ivf_drift(spark, sf_dir: str, n: int) -> dict:
    """IVF codebook drift (round-8 task #6): after 50% corpus turnover
    into a SHIFTED distribution (new vectors get a constant offset on
    the first dims — the embedding-model-update scenario), measure
    serve recall@3 vs brute force with (a) the STALE codebook +
    incrementally-maintained index vs (b) a codebook re-picked and the
    index rebuilt on the final corpus. Also records the cheap drift
    monitor — mean cos(vector, assigned centroid) before and after
    turnover on the stale index — the statistic a deployment watches
    to decide recentering (threshold documented in SCALE.md)."""
    import shutil as _sh

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_centroid_rows,
        ivf_topk,
        perturbed_replicas,
        recall_against,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        ivf_index_table,
        ivf_index_upsert,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        cosine_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = perturbed_replicas(emb, n, noise=0.5)
    out = os.path.join(tempfile.gettempdir(), f"emb_drift_x{n}.parquet")
    base.withColumn("seq", F.lit(0).cast("long")).write.mode(
        "overwrite"
    ).parquet(out)
    base = spark.read.parquet(out)
    n_rows = base.count()
    results = {"family": "ivf_drift", "replication": n, "rows": n_rows}

    cent0 = ivf_centroid_rows(base, 16)
    tbl_dir = os.path.join(tempfile.gettempdir(), f"ivf_drift_tbl_x{n}")
    if os.path.isdir(tbl_dir):
        _sh.rmtree(tbl_dir)
    table = ivf_index_table(spark, tbl_dir)
    ivf_index_upsert(table, base, cent0, epoch_id=0, dim=64)

    def mean_assigned_cos(index_df) -> float:
        cent_df = spark.createDataFrame(
            [(c, v) for c, v in cent0],
            "centroid_id long, c_vec array<double>",
        )
        return round(
            index_df.join(F.broadcast(cent_df), "centroid_id")
            .select(
                cosine_similarity(F.col("c_emb"), F.col("c_vec")).alias("c")
            )
            .agg(F.avg("c"))
            .collect()[0][0],
            4,
        )

    def max_list_share(index_df) -> float:
        # serve-cost balance monitor: the hottest inverted list's share
        # of the corpus (uniform would be 1/k_c = 0.0625 here) — under
        # coherent drift the new mass crowds few stale lists, which is
        # what inflates probe-side candidate counts even when recall
        # survives
        row = (
            index_df.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
            .collect()[0]
        )
        return round(row.mx / row.tot, 4)

    results["mean_assigned_cos_before"] = mean_assigned_cos(table.read())
    results["max_list_share_before"] = max_list_share(table.read())

    # 50% turnover: replace every even-id vector with a re-embedded
    # version under a SHIFTED model — 8 new cluster directions
    # (vec_id-keyed 8-dim blocks, +0.75/dim ≈ 6× the unit-normalized
    # corpus's ~0.125 rms component, within-cluster cos ≈ 0.8). Eight
    # moderate clusters is the adversarial staleness case: more new
    # directions than nprobe covers, none aligned with a stale
    # centroid, so the stale lists scatter each new cluster while a
    # recentered codebook can give each one its own list.
    turned = base.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id",
        F.lit(1).cast("long").alias("seq"),
        F.expr(
            "transform(cast(embedding as array<double>), (x, j) -> "
            "CASE WHEN int(j div 8) = int(vec_id % 8) "
            "THEN x + 0.75 ELSE x END)"
        ).alias("embedding"),
    )
    ivf_index_upsert(table, turned, cent0, epoch_id=1, dim=64)
    stale_index = table.read()
    results["mean_assigned_cos_after"] = mean_assigned_cos(stale_index)
    results["max_list_share_after"] = max_list_share(stale_index)

    final = (
        base.filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .unionByName(turned.select("vec_id", "embedding"))
        .localCheckpoint(eager=True)
    )
    queries = final.filter(F.col("vec_id") < 5)
    bf = brute_force_topk(final, queries, k=3, dim=64).persist()
    bf.count()

    t0 = time.perf_counter()
    served_stale = ivf_topk(
        final, queries, k=3, nprobe=4, dim=64,
        centroids=cent0, assigned=stale_index,
    )
    results["recall_stale_codebook"] = recall_against(bf, served_stale)
    results["serve_stale_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    cent1 = ivf_centroid_rows(final, 16)
    reb_dir = os.path.join(tempfile.gettempdir(), f"ivf_drift_reb_x{n}.parquet")
    ivf_assign(final, cent1, dim=64).write.mode("overwrite").parquet(reb_dir)
    results["recenter_rebuild_s"] = round(time.perf_counter() - t0, 2)
    rebuilt = spark.read.parquet(reb_dir)
    served_reb = ivf_topk(
        final, queries, k=3, nprobe=4, dim=64,
        centroids=cent1, assigned=rebuilt,
    )
    results["recall_rebuilt_codebook"] = recall_against(bf, served_reb)
    results["max_list_share_rebuilt"] = max_list_share(rebuilt)

    # the real recenter: a TRAINED codebook (3 Lloyd rounds) adapts
    # centroids to the drifted distribution — the balance recovery a
    # hash-sampled re-pick cannot deliver
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_fit,
    )

    t0 = time.perf_counter()
    vec = final.select("vec_id", F.col("embedding").alias("vec"))
    cents_km, _ = kmeans_fit(vec, k=16, iterations=3)
    cent_km = sorted((int(c), list(v)) for c, v in cents_km.items())
    km_dir = os.path.join(
        tempfile.gettempdir(), f"ivf_drift_km_x{n}.parquet"
    )
    ivf_assign(final, cent_km, dim=64).write.mode("overwrite").parquet(km_dir)
    results["recenter_kmeans_s"] = round(time.perf_counter() - t0, 2)
    km_index = spark.read.parquet(km_dir)
    served_km = ivf_topk(
        final, queries, k=3, nprobe=4, dim=64,
        centroids=cent_km, assigned=km_index,
    )
    results["recall_kmeans_codebook"] = recall_against(bf, served_km)
    results["max_list_share_kmeans"] = max_list_share(km_index)
    bf.unpersist()
    return results


def probe_pairops(spark, sf_dir: str, n: int) -> dict:
    """Round-9 batch-29 pair operators at scale: replicate documents
    N× with IDENTICAL text in disjoint doc_id spaces. Under that
    design BOTH operators have CLOSED-FORM output counts, so the
    scale run doubles as an exact correctness check:

    - ``simhash_hamming_pairs(max_hamming=1)``: every replica carries
      its base doc's signature, so the output must be exactly
      N²·P_base + C(N,2)·D rows (P_base = base pair count, D = base
      docs; the second term is the hamming-0 replica diagonal).
    - ``containment_pairs(4/5)``: shingle sets are identical per
      replica, so ordered output = N²·P_base + N·(N−1)·D (each
      replica pair of the same base doc is mutually contained, both
      orientations).

    The probe asserts both counts AND that the base-projected
    DISTINCT pair set (ids mod the replication stride, diagonal
    dropped, values included) equals the base output — both
    directions checked with server-side anti-joins, never a driver
    materialization of the scaled pairs. The N² term is the pair
    CONTRACT's own output floor (every qualifying pair is the
    answer), not candidate waste; what the wall-clock measures is
    that the blocking machinery adds no second quadratic on top."""
    import __spark_entry__ as entry  # noqa: F401  (session parity)
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        containment_pairs,
        simhash_hamming_pairs,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    stride = 10_000_000
    docs = load_table(spark, sf_dir, "documents")
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * stride).alias("doc_id"),
        "text",
    )
    dout = os.path.join(tempfile.gettempdir(), f"documents_pairops_x{n}.parquet")
    dcopies.write.mode("overwrite").parquet(dout)
    sdocs = spark.read.parquet(dout)
    d_base = docs.count()
    results = {"family": "pairops", "replication": n, "docs": d_base * n}

    def check(name, base_out, scaled_fn, cols, expected_fn, ordered):
        base_cnt = base_out.count()
        t0 = time.perf_counter()
        scaled = scaled_fn(sdocs)
        _noop(scaled)
        results[f"{name}_s"] = round(time.perf_counter() - t0, 2)
        scaled_cnt = scaled_fn(sdocs).count()
        results[f"{name}_base_pairs"] = base_cnt
        results[f"{name}_scaled_pairs"] = scaled_cnt
        results[f"{name}_count_exact"] = scaled_cnt == expected_fn(base_cnt)
        a0 = F.pmod(F.col("doc_a"), F.lit(stride))
        b0 = F.pmod(F.col("doc_b"), F.lit(stride))
        if ordered:
            pa, pb = a0, b0
        else:
            pa, pb = F.least(a0, b0), F.greatest(a0, b0)
        proj = (
            scaled_fn(sdocs)
            .select(pa.alias("doc_a"), pb.alias("doc_b"), cols[2])
            .filter(F.col("doc_a") != F.col("doc_b"))
            .distinct()
        )
        miss = base_out.join(proj, cols, "left_anti").count()
        extra = proj.join(base_out, cols, "left_anti").count()
        results[f"{name}_projection_match"] = miss == 0 and extra == 0
        assert results[f"{name}_count_exact"], (name, scaled_cnt)
        assert results[f"{name}_projection_match"], (name, miss, extra)

    check(
        "simhash_h1",
        simhash_hamming_pairs(docs, max_hamming=1),
        lambda d: simhash_hamming_pairs(d, max_hamming=1),
        ["doc_a", "doc_b", "hamming"],
        lambda p: n * n * p + d_base * n * (n - 1) // 2,
        ordered=False,
    )
    check(
        "containment_t80",
        containment_pairs(docs, n=3, threshold_num=4, threshold_den=5),
        lambda d: containment_pairs(d, n=3, threshold_num=4, threshold_den=5),
        ["doc_a", "doc_b", "containment"],
        lambda p: n * n * p + d_base * n * (n - 1),
        ordered=True,
    )

    # APSS tf-cosine: replicas carry identical 3-gram frequency
    # vectors, so the output count is closed-form exactly like the
    # simhash join — N²·P_base unordered base pairs plus the
    # cosine-1.0 replica diagonal C(N,2) per gram-bearing doc
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions import (
        text as tx,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        tf_cosine_pairs,
    )

    d_grams = docs.filter(F.size(tx.tokens(F.col("text"))) >= 3).count()
    check(
        "tf_cosine_t90_n3",
        tf_cosine_pairs(docs, 9, 10, n=3),
        lambda d: tf_cosine_pairs(d, 9, 10, n=3),
        ["doc_a", "doc_b", "cosine"],
        lambda p: n * n * p + d_grams * n * (n - 1) // 2,
        ordered=False,
    )

    # span family: replication saturates coverage — every doc with
    # ≥ w tokens shares ALL its grams with its replicas, so the span
    # output must be exactly ONE whole-doc span per replicated doc
    # (1 .. n_tokens) and the cleaned manifest must remove everything
    # from those docs and nothing from the sub-window ones. An
    # end-to-end island-merge + cut check at N× coverage density.
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        duplicate_spans,
        span_cleaned_stats,
    )

    w = 10
    d_ge = docs.filter(
        F.size(F.split(F.col("text"), " ")) >= w
    ).count()
    t0 = time.perf_counter()
    spans = duplicate_spans(sdocs, window_words=w)
    _noop(spans)
    results["spans_s"] = round(time.perf_counter() - t0, 2)
    spans = duplicate_spans(sdocs, window_words=w)
    bad_span = spans.join(
        sdocs.select(
            "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
        ),
        "doc_id",
    ).filter(
        (F.col("span_start") != 1) | (F.col("span_end") != F.col("n_tokens"))
    )
    results["spans_rows"] = spans.count()
    results["spans_whole_doc"] = (
        results["spans_rows"] == n * d_ge and bad_span.count() == 0
    )
    cleaned = span_cleaned_stats(sdocs, window_words=w)
    leftover = cleaned.filter(
        ((F.col("n_tokens") >= w) & (F.col("n_removed") != F.col("n_tokens")))
        | ((F.col("n_tokens") < w) & (F.col("n_removed") != 0))
    ).count()
    results["cleaned_rows"] = cleaned.count()
    results["cleaned_saturated"] = (
        leftover == 0 and results["cleaned_rows"] == d_base * n
    )
    assert results["spans_whole_doc"] and results["cleaned_saturated"]
    return results


def probe_cc(spark, sf_dir: str, n: int) -> dict:
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        connected_components,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        "text",
    )
    dout = os.path.join(tempfile.gettempdir(), f"documents_cc_x{n}.parquet")
    dcopies.write.mode("overwrite").parquet(dout)
    sdocs = spark.read.parquet(dout)
    results = {"family": "cc", "replication": n, "rows": sdocs.count()}

    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(sdocs)
    comp = connected_components(pairs, max_iterations=30)
    results["clusters"] = comp.select("component").distinct().count()
    results["members"] = comp.count()
    results["near_dup_cc_s"] = round(time.perf_counter() - t0, 2)

    # round-7 exact-digest pre-collapse (components.near_dup_components):
    # identical result, but exact-dup groups cost Θ(g) instead of the
    # Θ(g²) band self-join rows — measured against the uncollapsed
    # composition above on the same scaled corpus
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.components import (
        near_dup_components,
    )

    t0 = time.perf_counter()
    comp2 = near_dup_components(sdocs)
    results["collapsed_clusters"] = (
        comp2.select("component").distinct().count()
    )
    results["collapsed_members"] = comp2.count()
    results["near_dup_cc_collapsed_s"] = round(time.perf_counter() - t0, 2)
    spark.catalog.clearCache()
    return results


def probe_ivf_incr(spark, sf_dir: str, n: int) -> dict:
    """Incremental IVF maintenance (round-7 task #4) vs full rebuild:
    build the inverted file for an N×-replicated corpus, then apply a
    1% delta (updates + inserts) two ways — ivf_index_upsert through
    the exactly-once MERGE table vs a full Θ(N) ivf_assign rebuild —
    and fingerprint both the resulting index states and the served
    top-k to prove they are identical. The claim under test: corpus
    churn costs Θ(delta), not Θ(corpus)."""
    import hashlib

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
        ivf_centroid_rows,
        ivf_topk,
        perturbed_replicas,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        ivf_index_table,
        ivf_index_upsert,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    copies = perturbed_replicas(emb, n, noise=0.5)
    out = os.path.join(tempfile.gettempdir(), f"emb_incr_x{n}.parquet")
    copies.withColumn("seq", F.lit(0).cast("long")).write.mode(
        "overwrite"
    ).parquet(out)
    base = spark.read.parquet(out)
    n_rows = base.count()
    results = {"family": "ivf_incr", "replication": n, "rows": n_rows}
    cent = ivf_centroid_rows(base, 16)

    # initial build through the MERGE table (epoch 0)
    tbl_dir = os.path.join(tempfile.gettempdir(), f"ivf_incr_tbl_x{n}")
    if os.path.isdir(tbl_dir):
        import shutil

        shutil.rmtree(tbl_dir)
    table = ivf_index_table(spark, tbl_dir)
    t0 = time.perf_counter()
    ivf_index_upsert(table, base, cent, epoch_id=0, dim=64)
    results["initial_build_s"] = round(time.perf_counter() - t0, 2)

    # 1% delta: half updates (re-embedded vectors), half inserts
    d = max(2, n_rows // 100)
    upd = base.filter(F.col("vec_id") % 199 == 0).limit(d // 2).select(
        "vec_id",
        F.lit(1).cast("long").alias("seq"),
        F.expr("transform(cast(embedding as array<double>), x -> -x)").alias(
            "embedding"
        ),
    )
    ins = base.limit(d - d // 2).select(
        (F.col("vec_id") + 900_000_000).alias("vec_id"),
        F.lit(1).cast("long").alias("seq"),
        "embedding",
    )
    delta = upd.unionByName(ins).localCheckpoint(eager=True)
    results["delta_rows"] = delta.count()

    t0 = time.perf_counter()
    ivf_index_upsert(table, delta, cent, epoch_id=1, dim=64)
    results["upsert_s"] = round(time.perf_counter() - t0, 2)

    # full rebuild of the logically-final corpus for comparison
    # anti-join ids come from the CHECKPOINTED delta, not from a
    # re-evaluation of the limit-based upd plan (limit without sort is
    # order-dependent — a re-execution could pick different rows and
    # make the rebuild baseline spuriously disagree with the merge)
    upd_ids = delta.filter(F.col("vec_id") < 900_000_000).select("vec_id")
    final = (
        base.join(upd_ids, "vec_id", "left_anti")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .unionByName(delta.select("vec_id", "embedding"))
    )
    t0 = time.perf_counter()
    reb_dir = os.path.join(tempfile.gettempdir(), f"ivf_incr_reb_x{n}.parquet")
    ivf_assign(final, cent, dim=64).write.mode("overwrite").parquet(reb_dir)
    results["full_rebuild_s"] = round(time.perf_counter() - t0, 2)

    def fp(df, cols):
        rows = sorted(tuple(map(repr, r)) for r in df.select(*cols).collect())
        return hashlib.md5(repr(rows).encode()).hexdigest()[:16]

    merged = table.read()
    rebuilt = spark.read.parquet(reb_dir)
    results["index_fp_merged"] = fp(merged, ["vec_id", "centroid_id"])
    results["index_fp_rebuilt"] = fp(rebuilt, ["vec_id", "centroid_id"])
    queries = base.filter(F.col("vec_id") < 5)
    serve_m = ivf_topk(final, queries, k=3, nprobe=4, dim=64,
                       centroids=cent, assigned=merged)
    serve_r = ivf_topk(final, queries, k=3, nprobe=4, dim=64,
                       centroids=cent, assigned=rebuilt)
    results["serve_fp_merged"] = fp(serve_m, ["query_id", "vec_id", "rank"])
    results["serve_fp_rebuilt"] = fp(serve_r, ["query_id", "vec_id", "rank"])
    assert results["index_fp_merged"] == results["index_fp_rebuilt"]
    assert results["serve_fp_merged"] == results["serve_fp_rebuilt"]
    return results


def probe_simhash_width(spark, sf_dir: str, n: int) -> dict:
    """Round-10 (VERDICT r9 #1): candidate-row growth of the 64-bit
    simhash blocking vs the legacy 32-bit path on the SAME corpus.
    Replication design: documents N×, every token suffixed with its
    replica id — token hashes (hence signatures) become independent
    across replicas, modelling a crawl of N·D DISTINCT documents
    (identical-text replication would only measure the trivial
    diagonal). Measured per width at Hamming budget 3: the equi-join
    candidate count BEFORE the bit_count verify (the quantity the
    block width actually controls — 8-bit keys give ~n²/2⁸-scale
    buckets per band, 16-bit keys ~n²/2¹⁶), verified pair count, and
    wall seconds. The quadratic coefficient candidates/n² is the
    printed verdict: it must be ~256× smaller for 64-bit, and the
    64-bit coefficient must not grow with n (no second quadratic
    hiding in the banding)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        simhash_blocks,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    stride = 10_000_000
    docs = load_table(spark, sf_dir, "documents")
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * stride).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: F.concat(t, F.lit("_r"), F.col("rep")),
            ),
            " ",
        ).alias("text"),
    )
    dout = os.path.join(
        tempfile.gettempdir(), f"documents_simhashw_x{n}.parquet"
    )
    dcopies.write.mode("overwrite").parquet(dout)
    sdocs = spark.read.parquet(dout)
    n_docs = sdocs.count()
    results = {"family": "simhash_width", "replication": n, "docs": n_docs}
    # third config (round 10): the multi-block h=6 cover — 28 two-block
    # 16-bit combinations — so the combination fan-out's candidate
    # growth is probed, not just the classic h=3 single-block bands
    for tag, h, width, min_key in (
        ("w32", 3, 32, 8),
        ("w64", 3, 64, 16),
        ("w64h6", 6, 64, 16),
    ):
        t0 = time.perf_counter()
        blocks = simhash_blocks(
            sdocs, max_hamming=h, nbits=width, min_key_bits=min_key
        ).localCheckpoint(eager=True)
        a = blocks.select(F.col("doc_id").alias("doc_a"), "blk", "val")
        b = blocks.select(F.col("doc_id").alias("doc_b"), "blk", "val")
        cand = (
            a.join(b, ["blk", "val"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        n_cand = cand.count()
        results[f"{tag}_s"] = round(time.perf_counter() - t0, 2)
        results[f"{tag}_candidates"] = n_cand
        results[f"{tag}_cand_per_n2"] = round(
            n_cand / (n_docs * (n_docs - 1) / 2), 8
        )
        blocks.unpersist()
    results["w64_vs_w32_candidate_ratio"] = round(
        results["w64_candidates"] / max(1, results["w32_candidates"]), 6
    )
    return results


def probe_semdedup(spark, sf_dir: str, n: int) -> dict:
    """SemDeDup family (round 11): candidate volume must track CLUSTER
    SIZES, not n². The corpus is perturbed-replicated n× and
    semantic_dedup's within-cluster join is measured two ways:

    - ``fixed16``: the codebook held at 16 centroids while the corpus
      grows — candidates scale ~n²/k (the quadratic-per-list regime
      the docstring warns about), the NEGATIVE control;
    - ``sqrt_n``: centroids grown ~√N (16·√n — the documented 100 TB
      contract, list sizes ~√N) — candidate density per n² must FALL
      as the corpus grows.

    Published per arm: Σ_c C(n_c, 2) exact candidate count, its ratio
    to C(rows, 2), max list share, wall time of the full prune, and
    the drop count (the prune's output is also a saturation check:
    perturbed replicas of one base vector land in one cluster and the
    keep-min rule keeps exactly the smallest id when noise keeps them
    above the cut)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        ivf_assign,
        ivf_centroid_rows,
        perturbed_replicas,
        semantic_dedup,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmeans import (
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    copies = perturbed_replicas(emb, n, noise=0.3)
    out = os.path.join(tempfile.gettempdir(), f"semdedup_x{n}.parquet")
    copies.write.mode("overwrite").parquet(out)
    scaled = spark.read.parquet(out)
    rows = scaled.count()
    results = {"family": "semdedup", "replication": n, "rows": rows}
    k_sqrt = max(16, int(round(16 * n ** 0.5)))
    arms = {"fixed16": 16, "sqrt_n": k_sqrt, "kmeans_sqrt_n": k_sqrt}
    for label, k in arms.items():
        if label == "kmeans_sqrt_n":
            # trained codebook at the SAME k as the sampled √N arm —
            # isolates what Lloyd balancing buys: Σ C(n_c,2) is
            # Schur-convex in the list-size vector, so flatter lists
            # mean fewer candidates at equal k (and a tighter
            # max-list straggler bound for the prune join)
            vec = scaled.select(
                "vec_id", as_double_array(F.col("embedding")).alias("vec")
            )
            cents, _ = kmeans_fit(vec, k=k, iterations=3)
            cent = sorted((int(c), list(v)) for c, v in cents.items())
        else:
            cent = ivf_centroid_rows(scaled, k)
        sizes = (
            ivf_assign(scaled, cent, dim=64)
            .groupBy("centroid_id")
            .count()
            .collect()
        )
        cand = sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
        t0 = time.perf_counter()
        pruned = semantic_dedup(scaled, threshold=0.35, centroids=cent, dim=64)
        n_dropped = pruned.filter(~F.col("kept")).count()
        results[label] = {
            "k": k,
            "cand_pairs": cand,
            "cand_per_n2": round(cand / (rows * (rows - 1) / 2), 6),
            "max_list_share": round(
                max(r["count"] for r in sizes) / rows, 4
            ),
            "n_dropped": n_dropped,
            "prune_s": round(time.perf_counter() - t0, 2),
        }
    return results


def probe_pq(spark, sf_dir: str, n: int) -> dict:
    """PQ storage/serve contraction (round 12, VERDICT r11 #1): on the
    perturbed-replicated corpus, materialize the FLAT IVF index
    (vec_id, centroid_id, float32 embedding) and the IVF-PQ index
    (vec_id, centroid_id, 8 tinyint codes, float32 anorm) and compare
    on-disk bytes — the ~dim·4/m contraction the brief asks to
    measure — then score recall@3 vs brute force for raw ADC, the
    refined (ADC top-16 → exact rerank) path, and IVF-PQ, with serve
    times. Bytes are parquet directory sizes (same codec both sides),
    so the ratio understates the raw-row contraction only by the
    shared per-file overhead."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        ivf_pq_topk,
        ivf_pq_topk_refined,
        pq_code_expr,
        pq_codebooks,
        pq_norm_expr,
        pq_refine,
        pq_topk,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_centroid_rows,
        perturbed_replicas,
        recall_against,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    emb = load_table(spark, sf_dir, "embeddings")
    copies = perturbed_replicas(emb, n, noise=0.3)
    out = os.path.join(tempfile.gettempdir(), f"embeddings_pq_x{n}.parquet")
    copies.write.mode("overwrite").parquet(out)
    scaled = spark.read.parquet(out)
    results = {"family": "pq", "replication": n, "rows": scaled.count()}
    queries = scaled.filter(F.col("vec_id") < 5)

    cent = ivf_centroid_rows(scaled, 16)
    cbs = pq_codebooks(scaled, m=8, ksub=16, dim=64)
    assigned = ivf_assign(scaled, cent, dim=64)

    # flat IVF index: float32 vectors (the fair baseline width)
    flat_dir = os.path.join(tempfile.gettempdir(), f"pq_flat_x{n}.parquet")
    t0 = time.perf_counter()
    assigned.select(
        "vec_id",
        "centroid_id",
        F.col("c_emb").cast("array<float>").alias("emb32"),
    ).write.mode("overwrite").parquet(flat_dir)
    results["flat_build_s"] = round(time.perf_counter() - t0, 2)
    results["flat_bytes"] = _dir_bytes(flat_dir)

    # PQ index: 8 one-byte codes + float32 reconstructed norm
    pq_dir = os.path.join(tempfile.gettempdir(), f"pq_codes_x{n}.parquet")
    t0 = time.perf_counter()
    assigned.select(
        "vec_id",
        "centroid_id",
        pq_code_expr("c_emb", cbs).cast("array<tinyint>").alias("codes"),
    ).withColumn(
        "anorm", pq_norm_expr("codes", cbs).cast("float")
    ).write.mode("overwrite").parquet(pq_dir)
    results["pq_build_s"] = round(time.perf_counter() - t0, 2)
    results["pq_bytes"] = _dir_bytes(pq_dir)
    results["bytes_ratio"] = round(
        results["flat_bytes"] / max(1, results["pq_bytes"]), 2
    )

    bf = brute_force_topk(scaled, queries, k=3, dim=64).persist()
    bf.count()
    t0 = time.perf_counter()
    adc = pq_topk(scaled, queries, k=3, codebooks=cbs)
    results["adc_recall"] = recall_against(bf, adc)
    results["adc_s"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    short = pq_topk(scaled, queries, k=16, codebooks=cbs)
    refined = pq_refine(scaled, short, queries, k=3, dim=64)
    results["refined_recall"] = recall_against(bf, refined)
    results["refined_s"] = round(time.perf_counter() - t0, 2)
    # IVF-PQ served from the materialized codes index (double-width
    # norms recomputed at read for scoring parity with the operator)
    index = spark.read.parquet(pq_dir).select(
        "vec_id",
        "centroid_id",
        F.col("codes").cast("array<int>").alias("codes"),
    ).withColumn("anorm", pq_norm_expr("codes", cbs))
    t0 = time.perf_counter()
    ivfpq = ivf_pq_topk(
        scaled, queries, k=3, nprobe=4, codebooks=cbs, coarse=cent,
        dim=64, indexed=index,
    )
    results["ivf_pq_recall"] = recall_against(bf, ivfpq)
    results["ivf_pq_serve_s"] = round(time.perf_counter() - t0, 2)
    # round 13: the COMPOSED serving query (IVF probe -> ADC top-16
    # shortlist -> exact rerank) — must hold recall where raw ADC
    # decays (r12 measured 1.0 @8k -> 0.4 @32k)
    t0 = time.perf_counter()
    ivfpq_ref = ivf_pq_topk_refined(
        scaled, queries, k=3, r=16, nprobe=4, codebooks=cbs,
        coarse=cent, dim=64, indexed=index,
    )
    results["ivf_pq_refined_recall"] = recall_against(bf, ivfpq_ref)
    results["ivf_pq_refined_serve_s"] = round(time.perf_counter() - t0, 2)
    # SQ8 tier (round 14): one byte per DIMENSION — the middle point
    # of the bytes-vs-recall curve (flat 256B float32 / SQ8 64B /
    # PQ 8B at this dim/m)
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        sq8_encode,
        sq8_topk,
        sq8_train,
    )

    mins, scales = sq8_train(scaled, dim=64)
    sq_dir = os.path.join(tempfile.gettempdir(), f"sq8_codes_x{n}.parquet")
    t0 = time.perf_counter()
    # storage codes shift to signed range (tinyint is -128..127);
    # the serve-side read shifts back — representation only
    sq8_encode(scaled, mins, scales).select(
        "vec_id",
        F.expr("transform(codes, c -> cast(c - 128 as tinyint))").alias(
            "codes"
        ),
        F.col("anorm").cast("float").alias("anorm32"),
    ).write.mode("overwrite").parquet(sq_dir)
    results["sq8_build_s"] = round(time.perf_counter() - t0, 2)
    results["sq8_bytes"] = _dir_bytes(sq_dir)
    sq_index = (
        spark.read.parquet(sq_dir)
        .select(
            "vec_id",
            F.expr("transform(codes, c -> cast(c as int) + 128)").alias(
                "codes"
            ),
        )
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        sq8_norm_expr,
    )

    sq_index = sq_index.withColumn(
        "anorm", sq8_norm_expr("codes", mins, scales)
    )
    t0 = time.perf_counter()
    sq3 = sq8_topk(
        scaled, queries, k=3, mins=mins, scales=scales, dim=64,
        indexed=sq_index,
    )
    results["sq8_recall"] = recall_against(bf, sq3)
    results["sq8_serve_s"] = round(time.perf_counter() - t0, 2)
    bf.unpersist()
    return results


def probe_pq_encode(spark, sf_dir: str, n: int) -> dict:
    """PQ encode throughput (round 13, VERDICT r12 #2): ms/row of the
    native Catalyst argmin tree vs the Arrow-batched numpy kernel at
    the test width (ksub=16) and the production one-byte width
    (ksub=256), on the perturbed-replicated corpus. The native
    ksub=256 leg runs on a 200-row slice (measured ~123 ms/row — a
    full pass would be minutes); the others run the full corpus.
    Bit-exactness of kernel vs native is pinned separately in
    tests/test_similarity.py — this family records only cost."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        pq_codebooks,
        pq_encode,
        pq_encode_arrow,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        perturbed_replicas,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    copies = perturbed_replicas(emb, n, noise=0.3)
    out = os.path.join(tempfile.gettempdir(), f"emb_pqenc_x{n}.parquet")
    copies.write.mode("overwrite").parquet(out)
    scaled = spark.read.parquet(out)
    rows = scaled.count()
    results = {"family": "pq_encode", "replication": n, "rows": rows}
    cbs16 = pq_codebooks(scaled, m=8, ksub=16, dim=64)
    cbs256 = pq_codebooks(scaled, m=8, ksub=256, dim=64)

    def ms_per_row(df, nrows):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return round((time.perf_counter() - t0) * 1000 / nrows, 4)

    results["native_k16_ms_row"] = ms_per_row(
        pq_encode(scaled, cbs16), rows
    )
    results["arrow_k16_ms_row"] = ms_per_row(
        pq_encode_arrow(scaled, cbs16), rows
    )
    sl = scaled.filter(F.col("vec_id") < 200).persist()
    n_sl = sl.count()
    results["native_k256_slice_rows"] = n_sl
    results["native_k256_ms_row"] = ms_per_row(pq_encode(sl, cbs256), n_sl)
    sl.unpersist()
    results["arrow_k256_ms_row"] = ms_per_row(
        pq_encode_arrow(scaled, cbs256), rows
    )
    results["arrow_vs_native_k16"] = round(
        results["arrow_k256_ms_row"]
        / max(results["native_k16_ms_row"], 1e-9),
        3,
    )
    return results


def probe_pq_trained(spark, sf_dir: str, n: int) -> dict:
    """Trained vs sample codebooks (round 13, VERDICT r12 #5): does
    per-subspace Lloyd training lift REFINED recall at the cheap
    shortlist (R < 16)? At R=16 both codebooks already refine to 1.0
    on this corpus (r12 measured raw-ADC parity), so the interesting
    regime is the smaller R where shortlist quality is the binding
    constraint. m=8, ksub=16, dim=64; training = 2 Lloyd rounds per
    subspace (pq_codebooks_trained)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        pq_codebooks,
        pq_codebooks_trained,
        pq_refine,
        pq_topk,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        brute_force_topk,
        perturbed_replicas,
        recall_against,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    copies = perturbed_replicas(emb, n, noise=0.3)
    out = os.path.join(tempfile.gettempdir(), f"emb_pqtr_x{n}.parquet")
    copies.write.mode("overwrite").parquet(out)
    scaled = spark.read.parquet(out)
    results = {"family": "pq_trained", "replication": n,
               "rows": scaled.count()}
    queries = scaled.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    cbs_sample = pq_codebooks(scaled, m=8, ksub=16, dim=64)
    results["sample_cb_s"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    cbs_trained = pq_codebooks_trained(
        scaled, m=8, ksub=16, dim=64, iterations=2
    )
    results["train_cb_s"] = round(time.perf_counter() - t0, 2)
    bf = brute_force_topk(scaled, queries, k=3, dim=64).persist()
    bf.count()
    for label, cbs in (("sample", cbs_sample), ("trained", cbs_trained)):
        results[f"adc_recall_{label}"] = recall_against(
            bf, pq_topk(scaled, queries, k=3, codebooks=cbs)
        )
        for r in (4, 8, 16):
            short = pq_topk(scaled, queries, k=r, codebooks=cbs)
            refined = pq_refine(scaled, short, queries, k=3, dim=64)
            results[f"refined_recall_{label}_r{r}"] = recall_against(
                bf, refined
            )
    bf.unpersist()
    return results


def probe_od_fine(spark, sf_dir: str, n: int) -> dict:
    """OD family at the reference's commented-out FINE grain (round
    13, VERDICT r12 #6): 5081 regions instead of the shipped 356/20 —
    the ~200× key-cardinality stress on od_matrix/od_fractions (the
    reference's cal_mobility_matrix.py:161,176 keeps the 5081×5081
    variant commented because driver-side scipy assembly can't hold
    it; the long-form DataFrame has no such cap). Records:
    - od key cardinality and build time at the fine grain;
    - the sentinel-region skew (gap-fill's out-of-observation region 0
      is the hot orig at any grain): hot-key edge share, plus the
      max/mean (hour, orig) group size that od_fractions' window must
      hold — the skew lever, bounded by dest-cardinality by design;
    - AQE shuffle coalescing: output partitions of the od aggregate vs
      the static spark.sql.shuffle.partitions.
    The region-graph queries (PageRank and its siblings) fold on the
    driver over a graph bounded by N_REGIONS, so this grain is not a
    query shape for them."""
    base = load_events(spark, sf_dir)
    copies = base.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
        "ts",
        "value",
        "event_id",
    )
    out = os.path.join(tempfile.gettempdir(), f"events_odf_x{n}.parquet")
    copies.write.mode("overwrite").parquet(out)
    scaled = spark.read.parquet(out)
    grain = 5081
    pings = scaled.select(
        "user_id",
        "ts",
        F.date_trunc("hour", "ts").alias("hour"),
        (
            F.pmod(
                F.hash(F.floor("value").cast("long"), F.col("event_id")),
                F.lit(grain - 1),
            )
            + 1
        ).cast("int").alias("region_id"),
        "event_id",
    )
    results = {"family": "od_fine", "replication": n, "grain": grain,
               "rows": scaled.count()}

    t0 = time.perf_counter()
    pos = ops.hourly_positions(pings)
    od = ops.od_matrix(ops.gap_fill_edges(pos)).persist()
    n_edges = od.count()
    results["od_keys"] = n_edges
    results["od_build_s"] = round(time.perf_counter() - t0, 2)
    results["od_out_partitions"] = od.rdd.getNumPartitions()
    results["static_shuffle_partitions"] = int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    tot = od.agg(F.sum("cnt")).collect()[0][0]
    hot = (
        od.filter(F.col("orig") == 0).agg(F.sum("cnt")).collect()[0][0]
        or 0
    )
    results["sentinel_edge_share"] = round(hot / tot, 4)
    grp = od.groupBy("hour", "orig").agg(F.count("*").alias("g")).agg(
        F.max("g").alias("mx"), F.avg("g").alias("avg")
    ).collect()[0]
    results["frac_window_max_group"] = int(grp.mx)
    results["frac_window_avg_group"] = round(float(grp.avg), 2)
    t0 = time.perf_counter()
    fr = ops.od_fractions(od)
    results["od_fractions_rows"] = fr.count()
    results["od_fractions_s"] = round(time.perf_counter() - t0, 2)
    od.unpersist()
    return results


def probe_ingest_deletes(spark, sf_dir: str, n: int) -> dict:
    """Delete-path cost shape (round 13, VERDICT r12 #3): stream-build
    a band index over n× replicated docs, tombstone 20% of doc ids,
    and measure (a) serve-time overhead of the broadcast anti-join vs
    the raw read, (b) fold-out compaction time and the physical row
    shrink, (c) that post-fold serving equals pre-fold serving (the
    anti-join and the fold are two implementations of one contract).
    The sidecar stays delete-history sized (one row per deleted id)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        minhash_bands,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        fold_out_dead_docs,
        serving_signature_rows,
        signature_tombstone_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scaled = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"), "text"
    )
    base = os.path.join(tempfile.gettempdir(), f"band_del_x{n}")
    shutil.rmtree(base, ignore_errors=True)
    table = IncrementalCountTable(
        spark, os.path.join(base, "tbl"), ["doc_id", "band", "band_hash"]
    )
    t0 = time.perf_counter()
    bands = minhash_bands(scaled, k=8, bands=4, n=3).groupBy(
        "doc_id", "band", "band_hash"
    ).agg(F.count("*").alias("cnt"))
    table.merge_batch(bands, epoch_id=0)
    results = {"family": "ingest_deletes", "replication": n,
               "rows": scaled.count(),
               "index_rows": table.read().count(),
               "build_s": round(time.perf_counter() - t0, 2)}
    tomb = signature_tombstone_table(spark, table.path)
    marks = scaled.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.lit(1).cast("long").alias("seq"),
        F.lit(True).alias("dead"),
    )
    t0 = time.perf_counter()
    tomb.merge_batch(marks, epoch_id=1)
    results["mark_s"] = round(time.perf_counter() - t0, 2)
    results["n_dead"] = int(marks.count())

    t0 = time.perf_counter()
    raw_rows = table.read().count()
    results["raw_read_s"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    served = serving_signature_rows(table, tomb)
    served_rows = served.count()
    results["serve_antijoin_s"] = round(time.perf_counter() - t0, 2)
    results["served_rows"] = served_rows
    t0 = time.perf_counter()
    fold_out_dead_docs(table, tomb)
    results["fold_out_s"] = round(time.perf_counter() - t0, 2)
    after = table.read().count()
    results["index_rows_after_fold"] = after
    results["fold_dropped_rows"] = raw_rows - after
    # contract: fold-out changes storage, not the served set
    results["serve_equals_fold"] = bool(
        after == served_rows
        and serving_signature_rows(table, tomb).count() == served_rows
    )
    shutil.rmtree(base, ignore_errors=True)
    return results


def probe_scorer_fit(spark, sf_dir: str, n: int) -> dict:
    """Distributed classifier-fit scaling (round 14): replicate the
    planted corpus N× in disjoint doc_id spaces — replica docs keep
    doc_id % 3, so labels, bucket counts, k and ȳ are all
    replication-invariant and the FIT must land on (near-)identical
    weights at every N while cost scales with the corpus. Measures
    feature-frame build, the fixed 8-epoch GD, and records the
    trained bias + top-weight fingerprint for the invariance check.
    The per-epoch cost is one map-only residual pass plus one
    n_buckets-cell decimal aggregate — the kmeans iteration shape —
    so fit time should grow ~linearly in rows with a flat driver
    footprint (256 doubles per epoch)."""
    import __spark_entry__ as entry
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        hashed_count_rows,
        scorer_fit_ls,
        scorer_predict,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    # replicate in multiples of 3 so doc_id % 3 labels stay aligned
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * 9_999_999).alias("doc_id"),
        "text",
    )
    dout = os.path.join(
        tempfile.gettempdir(), f"documents_fit_x{n}.parquet"
    )
    dcopies.write.mode("overwrite").parquet(dout)
    sdocs = spark.read.parquet(dout)
    planted = entry._plant_scored_docs(sdocs)
    results = {
        "family": "scorer_fit",
        "replication": n,
        "rows": sdocs.count(),
    }
    t0 = time.perf_counter()
    cv = hashed_count_rows(planted, F.col("y"), n_buckets=256)
    cv = cv.persist()
    cv.count()
    results["features_s"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    w, bias = scorer_fit_ls(cv, n_buckets=256, epochs=8, eta=4000.0)
    results["fit8_s"] = round(time.perf_counter() - t0, 2)
    results["bias"] = bias
    top = sorted(range(256), key=lambda b: -w[b])[:8]
    results["top_buckets"] = top
    pred = scorer_predict(cv, w, bias)
    ok = pred.select(
        (F.col("keep") == (F.col("y") == 1)).cast("int").alias("ok")
    ).agg(F.avg("ok")).first()[0]
    results["train_acc"] = round(float(ok), 4)
    cv.unpersist()
    return results


def probe_text_train(spark, sf_dir: str, n: int) -> dict:
    """Text-side training ops at scale (round 14): DSIR table build
    and BPE merge training on an N×-replicated corpus (disjoint
    doc_id spaces in label-aligned multiples of 3, identical text).
    Replication design: word frequencies and feature counts all
    multiply by exactly N, so the BPE MERGE TABLE is
    replication-INVARIANT (pair counts scale, the argmax doesn't) and
    the DSIR bucket counts must divide exactly by N (the smoothed
    RATIOS are only asymptotically invariant — the +1 smoothing sees
    (Nc+1)/(NT+256), which moves with N by design; the count
    fingerprint is the exact invariant). The fingerprints make the
    scale run a correctness check while build cost stays dominated by
    the one bounded corpus aggregate each."""
    import hashlib

    import __spark_entry__ as entry
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        bpe_train,
        vocab_with_freq,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.dsir import (
        dsir_ratio_table,
        hashed_bucket_counts,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * 9_999_999).alias("doc_id"),
        "text",
    )
    dout = os.path.join(
        tempfile.gettempdir(), f"documents_tt_x{n}.parquet"
    )
    dcopies.write.mode("overwrite").parquet(dout)
    sdocs = spark.read.parquet(dout)
    results = {
        "family": "text_train",
        "replication": n,
        "rows": sdocs.count(),
    }
    t0 = time.perf_counter()
    vocab = vocab_with_freq(sdocs, top_v=1024)
    results["bpe_vocab_s"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    merges, segs = bpe_train(vocab, k_merges=8)
    results["bpe_train_s"] = round(time.perf_counter() - t0, 2)
    results["bpe_merge_fp"] = hashlib.md5(
        repr([(m[1], m[2]) for m in merges]).encode()
    ).hexdigest()[:12]
    planted = entry._plant_scored_docs(sdocs)
    t0 = time.perf_counter()
    ct, tt = hashed_bucket_counts(planted.filter(F.col("y") == 1))
    cr, tr = hashed_bucket_counts(planted)
    dsir_ratio_table(ct, tt, cr, tr)  # builds without error
    results["dsir_build_s"] = round(time.perf_counter() - t0, 2)
    results["dsir_counts_divisible"] = all(
        c % n == 0 for c in ct + cr
    ) and tt % n == 0 and tr % n == 0
    results["dsir_count_fp"] = hashlib.md5(
        repr(
            ([c // n for c in ct], tt // n, [c // n for c in cr], tr // n)
        ).encode()
    ).hexdigest()[:12]
    return results


def probe_r15_ops(spark, sf_dir: str, n: int) -> dict:
    """Round-15 surfaces at scale: multi-script language ID, apply-time
    BPE segmentation, and the calibrated sigmoid fit on an
    N×-replicated corpus (disjoint doc_id spaces in label-aligned
    multiples; replica doc_ids keep doc_id % 32 and % 3 and % 4, so
    the planted language, scorer label, and OOV word of every replica
    match its original). Invariants recorded:

    - lang_id_script accuracy stays EXACTLY 1.0 at every N (the
      classifier is per-row; replication cannot move an argmax);
    - applied-BPE per-doc stats are replication-invariant → the
      global (n_words, n_subwords, n_chars) totals divide exactly
      by N (merge table itself invariant — text_train's proof);
    - the sigmoid fit's bias and top-weight fingerprint under
      replication (decimal gradient sums scale by exactly N and the
      /n normalizer cancels it up to one double conversion — recorded,
      like scorer_fit, as a near-invariance measurement).

    Costs: lang-ID and segmentation are map-only scans (expect
    ~linear); the fit is epochs × (scan + 256-cell aggregate)."""
    import hashlib

    import __spark_entry__ as entry
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        bpe_token_stats_applied,
        bpe_train,
        vocab_with_freq,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        hashed_count_rows,
        scorer_fit_sig,
        scorer_predict_sig,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    # 32 | 96, 3 | 96, 4 | 96 → every planted modulus stays aligned
    step = 96 * 104_167  # ≈ 10M, divisible by 96
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select((F.col("doc_id") + F.col("rep") * step).alias("doc_id"), "text")
    dout = os.path.join(tempfile.gettempdir(), f"documents_r15_x{n}.parquet")
    dcopies.write.mode("overwrite").parquet(dout)
    sdocs = spark.read.parquet(dout)
    results = {
        "family": "r15_ops",
        "replication": n,
        "rows": sdocs.count(),
    }

    # 1) multi-script language ID over the planted corpus
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        assemble_script_pred,
        predict_lang_ngram,
        script_profile_cols,
    )

    planted = entry._plant_multiscript(sdocs)
    cols = script_profile_cols(F.col("text"))
    staged = planted.select(
        "doc_id",
        "true_lang",
        predict_lang_ngram(F.col("text")).alias("pl"),
        cols["sb"].alias("sb"),
        cols["cyr"].alias("cyr"),
        cols["arb"].alias("arb"),
    ).select(
        "true_lang",
        assemble_script_pred(
            F.col("sb"), F.col("cyr"), F.col("arb"), F.col("pl")
        ).alias("pred"),
    )
    t0 = time.perf_counter()
    acc = staged.select(
        (F.col("pred") == F.col("true_lang")).cast("int").alias("ok")
    ).agg(F.avg("ok")).first()[0]
    results["langid_s"] = round(time.perf_counter() - t0, 2)
    results["langid_acc"] = float(acc)

    # 2) apply-time BPE segmentation (merges trained on the replicated
    # corpus — invariant per text_train; stats totals divide by N)
    vocab = vocab_with_freq(sdocs, top_v=1024)
    merge_rows, _segs = bpe_train(vocab, k_merges=8)
    merges = [(a, b) for _s, a, b, _c in merge_rows]
    oov = entry._plant_bpe_oov(sdocs)
    t0 = time.perf_counter()
    tot = (
        bpe_token_stats_applied(oov, merges)
        .agg(
            F.sum("n_words").alias("w"),
            F.sum("n_subwords").alias("s"),
            F.sum("n_chars").alias("c"),
        )
        .first()
    )
    results["bpe_apply_s"] = round(time.perf_counter() - t0, 2)
    results["bpe_totals_divisible"] = all(
        int(v) % n == 0 for v in (tot.w, tot.s, tot.c)
    )
    results["bpe_totals_fp"] = hashlib.md5(
        repr((int(tot.w) // n, int(tot.s) // n, int(tot.c) // n)).encode()
    ).hexdigest()[:12]

    # 3) calibrated sigmoid fit
    planted_y = entry._plant_scored_docs(sdocs)
    cv = hashed_count_rows(planted_y, F.col("y"), n_buckets=256).persist()
    cv.count()
    t0 = time.perf_counter()
    w, bias = scorer_fit_sig(cv, n_buckets=256, epochs=8)
    results["sig_fit8_s"] = round(time.perf_counter() - t0, 2)
    results["sig_bias"] = bias
    results["sig_top_buckets"] = sorted(
        range(256), key=lambda b: -w[b]
    )[:8]
    ok = (
        scorer_predict_sig(cv, w, bias)
        .select((F.col("keep") == (F.col("y") == 1)).cast("int").alias("ok"))
        .agg(F.avg("ok"))
        .first()[0]
    )
    results["sig_train_acc"] = round(float(ok), 4)
    cv.unpersist()
    return results


def probe_r15b_ops(spark, sf_dir: str, n: int) -> dict:
    """Round-15 second wave at scale: script-aware quality stacks,
    the multiscript curation pipeline, and BPE-aware packing on an
    N×-replicated corpus. Step is a multiple of lcm(128, 7, 4, 32) =
    896, so every replica keeps its original's planted language
    (doc_id % 128), digit suffix (% 7), corpus/planted role (% 4),
    packing shard (% 32) and OOV word (% 4). Invariants:

    - script_quality_stats keep counts per language scale by EXACTLY
      N and the order-free min-quality doubles are bit-identical
      (fingerprint over (lang, kept_ws/N, kept_sc/N, mins));
    - curation_multiscript output is BIT-IDENTICAL at every N: every
      replica's text equals its original's, so its digest collides
      and the keep-min dedup discards it — replication feeds the
      dedup stage the exact worst case and the survivor set must not
      move (row-set fingerprint);
    - sequence_packing_bpe global token totals divide exactly by N
      (merge table replication-invariant per text_train; replicas
      land after their originals within each shard, so base-row bins
      are untouched and each replica block re-runs the same counts).

    Costs: all three are scans plus bounded exchanges — expect
    ~linear."""
    import hashlib

    import __spark_entry__ as entry
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    step = 896 * 11_161  # ≈ 10M, multiple of 896
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select((F.col("doc_id") + F.col("rep") * step).alias("doc_id"), "text")
    dout = os.path.join(tempfile.gettempdir(), f"documents_r15b_x{n}.parquet")
    dcopies.write.mode("overwrite").parquet(dout)
    tmp_sf = os.path.join(tempfile.gettempdir(), f"r15b_sf_x{n}")
    os.makedirs(tmp_sf, exist_ok=True)
    tgt = os.path.join(tmp_sf, "documents.parquet")
    if os.path.islink(tgt) or os.path.exists(tgt):
        try:
            os.remove(tgt)
        except IsADirectoryError:
            import shutil

            shutil.rmtree(tgt)
    os.symlink(dout, tgt)
    results = {
        "family": "r15b_ops",
        "replication": n,
        "rows": spark.read.parquet(dout).count(),
    }

    qs = entry.queries()

    t0 = time.perf_counter()
    sq = qs["script_quality_stats"](spark, tmp_sf).collect()
    results["sq_s"] = round(time.perf_counter() - t0, 2)
    results["sq_counts_divisible"] = all(
        r.n_docs % n == 0
        and r.n_kept_ws % n == 0
        and r.n_kept_script % n == 0
        for r in sq
    )
    results["sq_fp"] = hashlib.md5(
        repr(
            sorted(
                (
                    r.true_lang,
                    r.n_docs // n,
                    r.n_kept_ws // n,
                    r.n_kept_script // n,
                    r.min_q_ws,
                    r.min_q_script,
                )
                for r in sq
            )
        ).encode()
    ).hexdigest()[:12]

    t0 = time.perf_counter()
    cm = qs["curation_multiscript"](spark, tmp_sf).collect()
    results["cm_s"] = round(time.perf_counter() - t0, 2)
    results["cm_rows"] = len(cm)
    results["cm_fp"] = hashlib.md5(
        repr(sorted(tuple(r) for r in cm)).encode()
    ).hexdigest()[:12]

    t0 = time.perf_counter()
    pk = qs["sequence_packing_bpe"](spark, tmp_sf).collect()
    results["pk_s"] = round(time.perf_counter() - t0, 2)
    tot = sum(int(r.total_tokens) for r in pk)
    results["pk_total_divisible"] = tot % n == 0
    results["pk_total_fp"] = hashlib.md5(
        repr(tot // n).encode()
    ).hexdigest()[:12]
    return results


def probe_r15c_ops(spark, sf_dir: str, n: int) -> dict:
    """Round-15 third wave at scale: script-routed decontamination,
    language-mixture realization, and per-language quality
    calibration on the 896-aligned N×-replicated corpus (the r15b
    design — every replica keeps its original's planted language,
    suffix, corpus/bench role). Invariants:

    - benchmark_decontam_script per-language counts (docs, evaluable,
      contaminated, both pipelines) divide EXACTLY by N — gram
      universes replicate verbatim, so every verdict does;
    - quality_calibrated thresholds and kept_rates are BIT-IDENTICAL
      at every N (the p40 rank scales with the group and lands on the
      same repeated value; ties scale with it) while doc counts
      divide exactly;
    - language_mix_counts doc/token totals divide exactly; kept
      counts do NOT (the md5 coin keys on the shifted replica
      doc_ids — by design: replicas are new documents to the
      sampler), so the probe records achieved-rate drift instead."""
    import hashlib

    import __spark_entry__ as entry
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    step = 896 * 11_161
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select((F.col("doc_id") + F.col("rep") * step).alias("doc_id"), "text")
    dout = os.path.join(tempfile.gettempdir(), f"documents_r15c_x{n}.parquet")
    dcopies.write.mode("overwrite").parquet(dout)
    tmp_sf = os.path.join(tempfile.gettempdir(), f"r15c_sf_x{n}")
    os.makedirs(tmp_sf, exist_ok=True)
    tgt = os.path.join(tmp_sf, "documents.parquet")
    if os.path.islink(tgt):
        os.remove(tgt)
    os.symlink(dout, tgt)
    results = {
        "family": "r15c_ops",
        "replication": n,
        "rows": spark.read.parquet(dout).count(),
    }
    qs = entry.queries()

    t0 = time.perf_counter()
    dc = qs["benchmark_decontam_script"](spark, tmp_sf).collect()
    results["decontam_s"] = round(time.perf_counter() - t0, 2)
    results["decontam_divisible"] = all(
        r.n_docs % n == 0
        and r.n_eval_word % n == 0
        and r.n_contam_word % n == 0
        and r.n_eval_script % n == 0
        and r.n_contam_script % n == 0
        for r in dc
    )
    results["decontam_fp"] = hashlib.md5(
        repr(
            sorted(
                (r.true_lang, r.n_docs // n, r.n_contam_word // n,
                 r.n_contam_script // n)
                for r in dc
            )
        ).encode()
    ).hexdigest()[:12]

    t0 = time.perf_counter()
    qc = qs["quality_calibrated"](spark, tmp_sf).collect()
    results["calib_s"] = round(time.perf_counter() - t0, 2)
    results["calib_divisible"] = all(
        r.n_docs % n == 0 and r.n_kept % n == 0 for r in qc
    )
    results["calib_fp"] = hashlib.md5(
        repr(
            sorted(
                (r.pred, r.q40_threshold, r.kept_rate, r.n_docs // n)
                for r in qc
            )
        ).encode()
    ).hexdigest()[:12]

    t0 = time.perf_counter()
    lm = qs["language_mix_counts"](spark, tmp_sf).collect()
    results["mix_s"] = round(time.perf_counter() - t0, 2)
    results["mix_docs_divisible"] = all(
        r.n_docs % n == 0 and r.sum_tokens % n == 0 for r in lm
    )
    results["mix_rate_drift_max"] = round(
        max(
            abs(
                r.achieved_rate
                - entry._LANG_MIX_RATES.get(r.pred, entry._LANG_MIX_DEFAULT)
            )
            for r in lm
        ),
        4,
    )
    return results


FAMILIES = {
    "r15_ops": probe_r15_ops,
    "r15b_ops": probe_r15b_ops,
    "r15c_ops": probe_r15c_ops,
    "pq": probe_pq,
    "scorer_fit": probe_scorer_fit,
    "text_train": probe_text_train,
    "pq_encode": probe_pq_encode,
    "pq_trained": probe_pq_trained,
    "od_fine": probe_od_fine,
    "ingest_deletes": probe_ingest_deletes,
    "semdedup": probe_semdedup,
    "simhash_width": probe_simhash_width,
    "ann": probe_ann,
    "setsim": probe_setsim,
    "cc": probe_cc,
    "ivf_incr": probe_ivf_incr,
    "lsh_hotband": probe_lsh_hotband,
    "dedup_e2e": probe_dedup_e2e,
    "ingest_compact": probe_ingest_compact,
    "ingest_narrow": probe_ingest_narrow,
    "ingest_backfill": probe_ingest_backfill,
    "ingest_epochs": probe_ingest_epochs,
    "doc_contract": probe_doc_contract,
    "ivf_drift": probe_ivf_drift,
    "pairops": probe_pairops,
}


def main() -> None:
    args = sys.argv[1:]
    family = None
    if args and args[0] == "--family":
        family = args[1]
        args = args[2:]
    n = int(args[0]) if args else 16
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if family is not None:
        print(json.dumps(FAMILIES[family](spark, sf_dir, n)))
        return

    base = load_events(spark, sf_dir)
    copies = base.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
        "ts",
        "event_type",
        "event_id",
        "value",
    )
    out = os.path.join(tempfile.gettempdir(), f"events_x{n}.parquet")
    copies.write.mode("overwrite").parquet(out)
    scaled = spark.read.parquet(out)
    n_rows = scaled.count()

    pings = scaled.select(
        "user_id",
        "ts",
        F.date_trunc("hour", "ts").alias("hour"),
        (F.pmod(F.floor("value").cast("long"), F.lit(20)) + 1)
        .cast("int")
        .alias("region_id"),
        "event_id",
    )

    results = {"replication": n, "rows": n_rows}
    t0 = time.perf_counter()
    pos = ops.hourly_positions(pings)
    pos.write.format("noop").mode("overwrite").save()
    results["hourly_positions_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    edges = ops.gap_fill_edges(ops.hourly_positions(pings))
    edges.write.format("noop").mode("overwrite").save()
    results["gap_fill_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    frac = ops.od_fractions(
        ops.od_matrix(ops.gap_fill_edges(ops.hourly_positions(pings)))
    )
    frac.write.format("noop").mode("overwrite").save()
    results["od_fractions_s"] = round(time.perf_counter() - t0, 2)

    # documents chain: corpus-hygiene operators on an N×-replicated
    # corpus (disjoint doc_id spaces, identical text — worst-case hit
    # density for the decontamination join)
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.text import (
        token_count,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.decontam import (
        decontaminate,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.packing import (
        pack_sequences,
        pack_stats,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    dcopies = docs.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    dout = os.path.join(tempfile.gettempdir(), f"documents_x{n}.parquet")
    dcopies.write.mode("overwrite").parquet(dout)
    sdocs = spark.read.parquet(dout)

    t0 = time.perf_counter()
    decontaminate(sdocs, F.pmod(F.col("doc_id"), F.lit(50)) == 0, n=8).write.format(
        "noop"
    ).mode("overwrite").save()
    results["decontam_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    pack_stats(
        pack_sequences(
            sdocs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
        )
    ).write.format("noop").mode("overwrite").save()
    results["packing_s"] = round(time.perf_counter() - t0, 2)

    print(json.dumps(results))


if __name__ == "__main__":
    main()
