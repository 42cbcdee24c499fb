"""Connected components over a pair table — near-dup cluster assembly.

Dedup pipelines need the transitive closure of the pairwise matches
(exact, MinHash, SimHash): if a~b and b~c, all three share one
canonical id. Implemented as iterative minimum-label propagation with
pointer jumping — each round every node adopts the smallest label in
its neighborhood (one join + one agg on the node key), then labels are
shortcut through one pointer-jump self-join (label := label of label).
The jump halves the effective propagation distance per round, so a
component of diameter d converges in O(log d) rounds, not O(d) — the
difference between 7 and 63 rounds on a 64-node chain of near-dups.
No GraphX dependency, no python.

Scale hardening (100 TB):
- every round's label table is ``localCheckpoint(eager=False)``-ed —
  the pointer-jump self-join doubles the logical plan tree per round,
  so without per-round truncation Catalyst re-analysis cost grows
  exponentially (measured: round 2 alone took 18 s at sf0.1 with
  lineage left to accumulate; ~1 s with truncation). The checkpoint
  also supersedes persist: exactly one materialized generation lives
  in executor storage at a time;
- convergence is detected from a per-round changed flag computed IN
  the round (labels are monotonically non-increasing, so "no label
  changed" is exact convergence; round 16 — the former up-front
  label-sum job cost one extra full-scan barrier per CC call). The
  lazy checkpoint skips the per-checkpoint count job; note that
  under AQE the checkpointed plan's shuffle stages still execute at
  checkpoint construction regardless of eager, so the saving is
  exactly that one skipped job per round, not a deferral of the
  round's work into the flag collect;
- a loop that exits without converging raises (or returns flagged via
  ``strict=False``) instead of silently returning truncated labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph_bounded import collect_edges_bounded


class ConvergenceError(RuntimeError):
    """Label propagation exhausted max_iterations before converging."""


# Session-scoped memo for the star-quotient engagement decision
# (round 9, VERDICT r8 #1): the decision is a PURE FUNCTION of the
# corpus content and the (k, bands, n) banding scheme, yet round 8
# re-ran its probe (one scalar agg + collect over the band table) on
# EVERY invocation — a measured +0.4–0.6 s tax on all four registered
# dedup-cluster queries at sf0.1 (BENCH_DRIFT_r8) even when the
# answer is "skip". Keyed by the input plan's semanticHash (canonical
# plan hash — stable across invocations, alias-insensitive) plus the
# banding params. A stale or colliding entry can only mis-route the
# PHYSICAL plan choice — both paths produce identical labels
# (pytest-pinned) — so the failure mode is performance, never
# correctness; a corpus mutated in place under the same path should
# call clear_star_gate_cache() (or pass star_gate= explicitly).
_STAR_GATE_CACHE: dict[tuple, bool] = {}
_STAR_GATE_CACHE_MAX = 256


def clear_star_gate_cache() -> None:
    """Drop all memoized star-gate decisions (tests; in-place table
    mutation under an unchanged plan)."""
    _STAR_GATE_CACHE.clear()


def _star_gate_key(d: DataFrame, k: int, bands: int, n: int):
    """Memo key, or None when the plan hash is unavailable (the memo
    then degrades to probing every call — round-8 behavior)."""
    try:
        return (d.semanticHash(), k, bands, n)
    except Exception:
        return None


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 25,
    strict: bool = True,
) -> DataFrame:
    """(node, component) for every node in the pair table; component =
    smallest node id reachable. ``pairs`` is undirected input.

    With pointer jumping, ``max_iterations`` bounds the *log* of the
    component diameter — 25 rounds cover any graph that fits on disk.
    ``strict=True`` raises :class:`ConvergenceError` if the loop exits
    un-converged (silently truncated labels are wrong labels).
    """
    edges = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .unionByName(
            pairs.select(F.col(b_col).alias("a"), F.col(a_col).alias("b"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # Convergence detection (round 16): labels are monotonically
    # non-increasing, so "no label changed this round" ⟺ the old
    # sum-delta criterion — but the changed flag is computed IN the
    # round (old label carried through the step+jump projections),
    # so the round's one collect returns it directly and the former
    # up-front full-scan sum job (one extra global barrier per CC
    # call, paid before round 1 could start) is gone. Termination is
    # unchanged round-for-round: both schemes run until the first
    # no-change round, and the per-round label tables are identical.
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component").alias("old_component"),
            F.least(
                F.col("component"),
                F.coalesce("nbr_component", F.col("component")),
            ).alias("component"),
        )
        # Pointer jump: component := component's own label. The jump
        # target table is `stepped` itself (freshest labels), keyed on
        # node — one self-join, halves remaining distance.
        jump = stepped.select(
            F.col("node").alias("j_node"), F.col("component").alias("j_comp")
        )
        jumped = F.least(
            F.col("component"), F.coalesce("j_comp", F.col("component"))
        )
        # Per-round checkpoint: the self-join above doubles the
        # plan tree, so carrying lineage across rounds makes Catalyst
        # re-analysis exponential — truncate to a LogicalRDD now.
        # Lazy: the changed-flag collect right below is the
        # materializing action (one fused job per round).
        new_full = (
            stepped.join(jump, stepped.component == jump.j_node, "left")
            .select(
                "node",
                jumped.alias("component"),
                (jumped < F.col("old_component")).alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        any_changed = new_full.agg(
            F.max(F.col("changed")).alias("c")
        ).collect()[0]["c"]
        labels = new_full.select("node", "component")
        if not any_changed:  # None ⇒ empty input, trivially converged
            converged = True
            break
    edges.unpersist()
    if not converged:
        if strict:
            raise ConvergenceError(
                f"label propagation did not converge in {max_iterations} "
                "rounds; raise max_iterations"
            )
        return labels.withColumn("converged", F.lit(False))
    return labels


def near_dup_components(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iterations: int = 25,
    hot_bucket_cap: int | None = None,
    collapse_signatures: bool = True,
    materialize: str = "persist",
    star_gate: bool | None = None,
    star_stats: dict | None = None,
) -> DataFrame:
    """(doc_id, component) over the MinHash near-dup graph — result
    IDENTICAL to ``connected_components(minhash_lsh_pairs(docs))``
    (pytest-pinned), computed with an EXACT-DIGEST PRE-COLLAPSE that
    removes the dominant scale hazard the round-7 probe measured:
    identical texts all share every band hash, so an exact-dup group
    of g docs contributes g² candidate rows to the band self-join —
    the all-identical 64× corpus cost 51 s and drove the CC family's
    16→64× slope (SCALE.md §Round 7). Exact duplicates are the most
    common duplicate class in a real crawl, and they are detectable
    for the price of one md5 — so they are collapsed to their min-id
    representative FIRST (one digest groupBy, the exact_dedup shape),
    signatures/banding/CC run on distinct texts only (Θ(g) per group,
    not Θ(g²)), and membership expands back through the digest table.

    Equivalence argument: signatures are a pure function of text, so
    (i) docs in a ≥2 digest group whose text yields AT LEAST ONE
    shingle (≥ n tokens) are always mutual LSH pairs — identical
    signatures agree on every band — and are graph members with or
    without collapse, while a zero-shingle text (< n tokens) produces
    no signature row at all, so its duplicates are NOT in the doc
    graph and the within-group fallback below is gated on the same
    token test doc_shingles applies; (ii) two DISTINCT texts collide
    iff their representatives collide, so the rep graph is exactly
    the quotient of the doc graph by text equality and components
    correspond 1:1; (iii) both labelings pick the min reachable id,
    and each group's representative IS its min id, so labels agree
    too.

    ``collapse_signatures=True`` (default, round 8) adds a SECOND
    quotient level for the crawl-boilerplate case the exact collapse
    cannot absorb: g byte-DISTINCT docs sharing the whole MinHash
    signature (identical shingle sets, or near-identical sets whose
    minima agree) are a clique by construction — identical signatures
    agree on every band — so materializing their C(g,2) pair rows into
    CC is pure waste. Text-reps are quotiented by full-signature
    digest; banding, the candidate join, and CC run on one
    representative per signature class; and class members inherit the
    rep's component through the membership table — a STAR expansion,
    Θ(g) rows, where the pair table is the Θ(g²) clique. A class with
    g≥2 and no cross-class edge is its own component (labeled by its
    rep = its min id). Equivalence mirrors the text-digest argument:
    same-signature docs are always mutual LSH pairs, distinct
    signatures collide iff their class reps collide, and every
    quotient level's representative IS its min id, so min-label
    propagation commutes with the quotient (pytest-pinned identical
    to the uncollapsed composition). Engagement is ADAPTIVE: one
    scalar agg over the persisted band table weighs the clique rows
    the quotient would save against its extra stages — clean corpora
    (the common case after the exact-text collapse) skip the
    class/membership joins entirely, since the quotient would be a
    no-op; boilerplate corpora take the star path. Same
    probe-then-choose shape as choose_jaccard_path. The decision is
    MEMOIZED per (corpus plan hash, k, bands, n) — round 9, VERDICT
    r8 #1: it is a pure function of those inputs, so re-probing every
    invocation charged every clean corpus +0.4–0.6 s at sf0.1 for an
    answer already known; repeat invocations (the registered
    dedup-cluster family, bench warm iterations) now skip the probe
    job entirely. ``star_gate`` overrides the gate outright
    (True = star path, False = plain join, None = adaptive+memo) —
    the zero-cost route for callers that know their corpus, the same
    contract shape as set_similarity_join_auto's ``stats=``. Either
    route changes only the physical plan: labels are identical by
    the pinned equivalence. ``star_stats`` (round 10, VERDICT r9 #6)
    pre-seeds the FIRST decision from catalog-class statistics — the
    set_similarity_stats dict shape over a one-row-per-doc
    (doc_id, digest) table, where cand_pairs = Σ C(df,2) is exactly
    the clique-pair savings — so a cold corpus with ANALYZE TABLE
    NDVs never pays the probe job either; precedence is star_gate >
    memo > star_stats > probe, and a stats-seeded decision enters
    the memo.

    ``hot_bucket_cap`` can additionally arm the hot-bucket quotient in
    :func:`~.dedup.lsh_pairs_from_bands` on the candidate join (pair
    set identical by its pinned equivalence) — default None: after the
    signature collapse the rep graph's signatures are all DISTINCT, so
    an over-cap bucket quotients into singleton classes and the cap is
    pure stage overhead (measured at g=256, SCALE_PROBE_r8: the
    codegen'd band hash join clears bands·g² narrow rows faster than
    the quotient's extra exchanges — the star expansion above is the
    win; the cap is kept for pair-contract callers with genuinely
    enormous mixed-signature buckets)."""
    from ..functions.text import token_count
    from .dedup import (
        lsh_pairs_from_bands,
        minhash_bands,
        minhash_lsh_pairs,
        signature_digest,
    )

    if materialize not in ("checkpoint", "persist"):
        raise ValueError(f"materialize must be checkpoint|persist: {materialize}")

    d = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    # Per-doc digest table: feeds reps, the representative rows, AND
    # the membership expansion — persisted so the corpus is scanned
    # and hashed once, not once per consumer (same digest/min-id/count
    # shape as dedup.exact_dedup, kept local so one persisted table
    # serves all three uses). Lifetime: CacheManager keys entries by
    # canonicalized plan, so repeated invocations over the same corpus
    # REUSE one entry rather than accumulating (the repo-wide pattern,
    # cf. minhash_lsh_pairs' persist); entries are per-dataset, bounded
    # by the handful of sf dirs a session touches.
    grp_raw = d.withColumn("digest", F.md5("text")).withColumn(
        "has_shingle", token_count(F.col("text")) >= n
    )
    grp = (
        grp_raw.persist()
        if materialize == "persist"
        else grp_raw.localCheckpoint(eager=True)
    )
    reps = grp.groupBy("digest").agg(
        F.min("doc_id").alias("rep_id"),
        F.count("*").alias("g"),
        # identical text ⟹ identical flag; any() is just the cheap way
        F.max("has_shingle").alias("has_shingle"),
    )
    rep_docs = (
        grp.join(reps.select("digest", "rep_id"), "digest")
        .filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id", "text")
    )
    membership = grp.select("doc_id", "digest").join(reps, "digest")
    if not collapse_signatures:
        pairs = minhash_lsh_pairs(
            rep_docs, k=k, bands=bands, n=n, hot_bucket_cap=hot_bucket_cap
        )
        comp_rep = connected_components(pairs, max_iterations=max_iterations)
        rep_label = comp_rep.withColumnRenamed("node", "rep_id")
    else:
        # Signature-class quotient. The band table is computed once
        # for all text-reps and feeds the digest pass, the class-rep
        # filter, and the candidate join. materialize="persist"
        # (default — registered fixed-plan queries) keeps one bounded
        # CacheManager entry reused across invocations over the same
        # corpus (bench warm iterations); materialize="checkpoint"
        # is for varied-corpus/parameter loops (probes, per-day
        # clustering), where per-plan cache entries would accumulate —
        # the same contract as set_similarity_join_lsh.
        bands_raw = minhash_bands(rep_docs, k=k, bands=bands, n=n)
        bands_df = (
            bands_raw.persist()
            if materialize == "persist"
            else bands_raw.localCheckpoint(eager=True)
        )
        # whole-signature digest — THE shared class key
        # (dedup.signature_digest), same function in every quotient.
        # Built lazily: the plain path with a memoized/forced gate
        # never needs it (that skip IS the round-9 reclaimed tax).
        sigd = cls = None

        def _class_table():
            nonlocal sigd, cls
            if cls is None:
                sigd = signature_digest(bands_df)
                cls = sigd.groupBy("__sig").agg(
                    F.min("doc_id").alias("rep2"),
                    F.count(F.lit(1)).alias("g2"),
                )
            return cls

        # Adaptive engagement: one scalar agg over the (persisted)
        # band table weighs the star path's SAVINGS — the clique pair
        # rows Σ C(g2, 2) it avoids — against its ~5 extra narrow
        # stages. A clean-ish corpus (a handful of size-2 signature
        # classes — the measured sf0.1 case, where the quotient costs
        # 2× for nothing) skips the class/membership joins: skipping
        # is ALWAYS correct, signature-duplicate reps still collide on
        # every band in the plain join. Boilerplate corpora (savings ≫
        # corpus) take the star path. The probe runs AT MOST ONCE per
        # (corpus plan hash, banding) per session — the memo above —
        # and not at all under an explicit star_gate.
        use_star = star_gate
        cache_key = None
        if use_star is None:
            cache_key = _star_gate_key(d, k, bands, n)
            if cache_key is not None:
                use_star = _STAR_GATE_CACHE.get(cache_key)
        if use_star is None and star_stats is not None:
            # Catalog-stats pre-seed (round 10, VERDICT r9 #6): the
            # memo kills the repeat-invocation probe; this kills the
            # FIRST one. Same dict shape as set_similarity_stats /
            # set_similarity_stats_from_catalog computed over a
            # one-row-per-doc (doc_id, signature-or-text-digest)
            # table: cand_pairs = Σ C(df,2) IS the clique-pair
            # savings and n_rows the signed-doc count, so the rule
            # below is the probe's own inequality on supplied
            # numbers — zero jobs. The decision is seeded into the
            # memo so later un-seeded invocations stay probe-free.
            use_star = bool(
                float(star_stats["cand_pairs"])
                > 2.0 * float(star_stats["n_rows"])
            )
            if cache_key is not None:
                if len(_STAR_GATE_CACHE) >= _STAR_GATE_CACHE_MAX:
                    _STAR_GATE_CACHE.clear()
                _STAR_GATE_CACHE[cache_key] = use_star
        if use_star is None:
            stats = _class_table().agg(
                F.coalesce(
                    F.sum(F.col("g2") * (F.col("g2") - 1) / 2), F.lit(0.0)
                ).alias("saved_pairs"),
                F.coalesce(F.sum("g2"), F.lit(0)).alias("n_docs_sig"),
            ).collect()[0]
            use_star = bool(stats.saved_pairs > 2.0 * stats.n_docs_sig)
            if cache_key is not None:
                if len(_STAR_GATE_CACHE) >= _STAR_GATE_CACHE_MAX:
                    _STAR_GATE_CACHE.clear()
                _STAR_GATE_CACHE[cache_key] = use_star
        if not use_star:
            pairs2 = lsh_pairs_from_bands(
                bands_df, hot_bucket_cap=hot_bucket_cap
            )
            comp2 = connected_components(
                pairs2, max_iterations=max_iterations
            )
            rep_label = comp2.withColumnRenamed("node", "rep_id")
        else:
            cls = _class_table()
            mem2 = sigd.join(cls, "__sig").select("doc_id", "rep2", "g2")
            rep2_bands = bands_df.join(
                cls.select(F.col("rep2").alias("doc_id")), "doc_id"
            )
            pairs2 = lsh_pairs_from_bands(
                rep2_bands, hot_bucket_cap=hot_bucket_cap
            )
            comp2 = connected_components(
                pairs2, max_iterations=max_iterations
            )
            # per text-rep label: component of its class rep, else —
            # for a g2≥2 class with no cross-class edge — the class
            # itself is a clique/component labeled by its rep (= its
            # min id). Docs with no signature row (zero shingles)
            # fall through to the text-group rule below.
            rep_label = mem2.join(
                comp2.withColumnRenamed("node", "rep2"), "rep2", "left"
            ).select(
                F.col("doc_id").alias("rep_id"),
                F.coalesce(
                    "component", F.when(F.col("g2") >= 2, F.col("rep2"))
                ).alias("component"),
            )
    return (
        membership.join(rep_label, "rep_id", "left")
        .withColumn(
            "component",
            F.coalesce(
                "component",
                F.when(
                    (F.col("g") >= 2) & F.col("has_shingle"),
                    F.col("rep_id"),
                ),
            ),
        )
        .filter(F.col("component").isNotNull())
        .select("doc_id", "component")
    )


def connected_components_bounded(
    pairs: DataFrame,
    bound: int,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """(node, component) closure for a pair table whose node domain is
    BOUNDED BY CONSTRUCTION — a fixed grid, a codebook, a label
    alphabet — independent of the data volume that produced it (round
    16, guide §8 "decide with small rows"): the pairs are collected
    (≤ ``bound`` rows, enforced — the collect is codebook-sized, the
    same driver-state class as the 256-bucket/top-1024 folds), the
    min-label closure runs as driver-side union-find in O(E·α), and
    the labels return as one tiny DataFrame for a broadcast join.
    Versus the iterative pointer-jump propagation this removes
    O(log d) full shuffle rounds *and* their per-round driver
    barriers — on a bounded domain the closure is metadata, and at
    100 TB the only data-scale work remains whatever aggregate
    produced ``pairs``.

    Labels are IDENTICAL to :func:`connected_components`: component =
    smallest node id reachable (union-find tracks per-root minima),
    and only nodes that appear in ``pairs`` are labeled.

    Raises when more than ``bound`` pair rows arrive — the caller's
    domain-size argument was wrong, and silently collecting an
    unbounded table is exactly the driver-OOM class this repo bans —
    and when a pair key is NULL (both through
    ``graph_bounded.collect_edges_bounded``; use
    :func:`connected_components` for an unbounded domain).
    """
    spark = pairs.sparkSession
    rows = collect_edges_bounded(
        pairs.select(
            F.col(a_col).cast("long").alias(a_col),
            F.col(b_col).cast("long").alias(b_col),
        ),
        bound,
        a_col,
        b_col,
    )
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id: the root IS the running component min,
            # so the final root of every node is its component label
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    out = [(n, find(n)) for n in parent]
    return spark.createDataFrame(
        out, "node bigint, component bigint"
    )
