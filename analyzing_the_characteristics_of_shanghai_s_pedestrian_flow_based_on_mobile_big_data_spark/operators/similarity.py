"""Similarity search over embedding columns (north star, BASELINE.json).

Brute-force cosine top-k as the correctness baseline, and a
sign-bucketed (random-hyperplane-style, axis-aligned planes) LSH
variant as the scale path: queries only compare against corpus vectors
in the same bucket, cutting the candidate set by ~2^nbits.

All math is native Catalyst array expressions with a fixed sequential
fold order (functions/vectors.py), so results are bitwise-reproducible
by the SQL oracle. Ranking uses cosine rounded to 6 decimals with a
vec_id tiebreak — a total order that is stable across engines and
partitionings.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine_similarity
from .dedup import minhash_band_rows


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_r", "rank")
    )


def _cos(dim: int | None):
    # Measured on Spark 4.1 (sf0.1 and a 20x-replicated corpus): the
    # aggregate/zip_with fold beats the dim-unrolled addition chain on
    # BOTH expression-compile time (the 64-term tree costs ~1.4 s of
    # analysis per query) and per-row throughput (~12 vs ~19.5 us/pair)
    # — so the fold is the default regardless of whether dim is known.
    del dim
    return cosine_similarity


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = 3, dim: int | None = None
) -> DataFrame:
    """Exact top-k neighbors: broadcast the (small) query set against
    the full corpus. ``emb``/``queries``: (vec_id, embedding). The
    corpus side never shuffles — scan + broadcast probe + per-partition
    partial top-k via the window's rank≤k pushdown."""
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            as_double_array(F.col("embedding")).alias("q_emb"),
        )
    )
    c = emb.select("vec_id", as_double_array(F.col("embedding")).alias("c_emb"))
    pairs = (
        c.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_r", F.round(_cos(dim)(F.col("q_emb"), F.col("c_emb")), 6)
        )
    )
    return _ranked_topk(pairs, k)


def sign_bucket(emb_col, nbits: int = 4):
    """LSH bucket id from the signs of the first ``nbits`` dimensions
    (axis-aligned hyperplanes — deterministic, engine-portable).
    ``nbits`` must not exceed the embedding dimension."""
    bit = None
    for j in range(nbits):
        b = F.when(
            F.element_at(emb_col, j + 1) >= 0, F.lit(2**j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        bit = b if bit is None else bit + b
    return bit


#: adaptive_nbits' clamp. The ann oracle twins' ``nbits_sql`` reads
#: the same bounds, so the two engines bucket alike.
MIN_BITS = 4
MAX_BITS = 24  # must stay ≤ the embedding dimension


def adaptive_nbits(n_rows: int, target_bucket_size: int = 16) -> int:
    """Bucket-count policy: nbits ≈ log2(N / target_bucket_size), so the
    expected in-bucket candidate set stays ~constant as the corpus
    grows — a FIXED nbits makes the bucket self-join ~N²/2^nbits,
    quadratic at scale. Clamped to [MIN_BITS, MAX_BITS]. The one
    decision point of the sign-bucket operators: banded_ann_topk,
    bucketed_ann_topk and embedding_near_dup_pairs all size their
    buckets here."""
    import math

    if n_rows <= target_bucket_size:
        return MIN_BITS
    return max(
        MIN_BITS,
        min(MAX_BITS, math.ceil(math.log2(n_rows / target_bucket_size))),
    )


def probe_buckets(bucket_col, nbits: int, multi_probe: int = 1):
    """Array of buckets to probe: the home bucket plus, when
    ``multi_probe >= 1``, every bucket at Hamming distance 1 (flip each
    of the nbits sign bits). Single-bit probing recovers the neighbors
    that straddle one hyperplane — the dominant recall loss mode; the
    probe fan-out is nbits+1, so total candidates stay
    ~(nbits+1)·N/2^nbits, still shrinking as N grows."""
    probes = [bucket_col]
    if multi_probe >= 1:
        probes += [bucket_col.bitwiseXOR(F.lit(1 << j)) for j in range(nbits)]
    return F.array(*probes)


def banded_sign_bucket(emb_col, table: int, nbits: int):
    """Sign bucket over dimension slice [table·nbits, (table+1)·nbits)
    — each band/table hashes a disjoint group of hyperplanes."""
    offset = table * nbits
    bit = None
    for j in range(nbits):
        b = F.when(
            F.element_at(emb_col, offset + j + 1) >= 0,
            F.lit(2**j).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        bit = b if bit is None else bit + b
    return bit


def banded_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """OR-amplified LSH: ``n_tables`` independent hash tables, each a
    sign bucket over a disjoint dimension slice; a corpus vector is a
    candidate if it shares the query's bucket in ANY table. Recall
    amplifies as 1-(1-p)^L while candidates stay ~L·N/2^nbits — the
    classic AND-OR construction, complementary to Hamming multi-probe
    (which probes near buckets of ONE table). Duplicate candidates
    (pairs agreeing in several tables) are deduped by a (query, vec)
    aggregate on scalar triples, never on array payloads. The bucket
    width comes from :func:`adaptive_nbits`, capped at
    ``dim // n_tables`` when ``dim`` is known."""
    nbits = adaptive_nbits(emb.count())
    if dim is not None:
        nbits = max(1, min(nbits, dim // n_tables))

    def with_tables(df):
        structs = [
            F.struct(
                F.lit(t).alias("tbl"),
                banded_sign_bucket(F.col("__emb"), t, nbits).alias("bucket"),
            )
            for t in range(n_tables)
        ]
        return df.withColumn("__tb", F.explode(F.array(*structs))).select(
            df.columns + [F.col("__tb.tbl").alias("tbl"), F.col("__tb.bucket").alias("bucket")]
        )

    c = with_tables(
        emb.select("vec_id", as_double_array(F.col("embedding")).alias("__emb"))
    ).withColumnRenamed("__emb", "c_emb")
    q = F.broadcast(
        with_tables(
            queries.select(
                F.col("vec_id").alias("query_id"),
                as_double_array(F.col("embedding")).alias("__emb"),
            )
        ).withColumnRenamed("__emb", "q_emb")
    )
    pairs = (
        c.join(q, ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_r", F.round(_cos(dim)(F.col("q_emb"), F.col("c_emb")), 6)
        )
        .groupBy("query_id", "vec_id")
        .agg(F.max("cos_r").alias("cos_r"))
    )
    return _ranked_topk(pairs, k)


def bucketed_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    dim: int | None = None,
    multi_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket plus its Hamming-1 probe buckets. Equi-join on bucket id →
    the corpus shuffles once on a small int key (or broadcasts the
    queries); at 1000 executors each bucket's candidates stay
    co-located. The bucket count derives from the corpus size
    (:func:`adaptive_nbits`), keeping candidate sets ~constant-size as
    the corpus grows; the probe expansion happens on the (small,
    broadcast) query side only."""
    nbits = adaptive_nbits(emb.count())
    c = emb.select(
        "vec_id",
        as_double_array(F.col("embedding")).alias("c_emb"),
    ).withColumn("bucket", sign_bucket(F.col("c_emb"), nbits))
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            as_double_array(F.col("embedding")).alias("q_emb"),
        )
        .withColumn("__home", sign_bucket(F.col("q_emb"), nbits))
        .withColumn(
            "bucket",
            F.explode(probe_buckets(F.col("__home"), nbits, multi_probe)),
        )
        .drop("__home")
    )
    pairs = (
        c.join(q, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_r", F.round(_cos(dim)(F.col("q_emb"), F.col("c_emb")), 6)
        )
    )
    return _ranked_topk(pairs, k)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, sign-bucket blocked with a
    size-adaptive bucket count (a fixed nbits makes the bucket
    self-join ~N²/2^nbits, quadratic at scale) and Hamming-1
    multi-probe on one join side (recovers pairs straddling one
    hyperplane), then the exact cosine filter keeps pairs whose
    6-dp-rounded cosine is >= ``threshold``. Never materializes
    all-pairs. ``threshold`` is corpus-dependent: ~0.9 for real
    near-duplicate text embeddings; an isotropic random corpus (the
    synthetic test data) tops out near sqrt(2·ln(n_pairs)/dim), so
    tests use a lower cut to keep the gate non-vacuous."""
    nbits = adaptive_nbits(emb.count())
    e = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("emb")
    ).withColumn("bucket", sign_bucket(F.col("emb"), nbits))
    a = e.withColumn(
        "probe", F.explode(probe_buckets(F.col("bucket"), nbits, 1))
    ).alias("a")
    b = e.alias("b")
    cos = cosine_similarity(F.col("a.emb"), F.col("b.emb"))
    return (
        a.join(
            b,
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cos_r", F.round(cos, 6))
        .filter(F.col("cos_r") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cos_r",
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    centroids: list | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-shape within-cluster embedding dedup (round 11,
    VERDICT r10 #5): cluster the corpus under coarse centroids, prune
    near-identical embeddings WITHIN each cluster — the standard
    curation stage composing this repo's two existing pieces (coarse
    assignment from the IVF machinery; pairwise-cosine prune) into
    the "cluster, then drop semantic duplicates inside the cluster"
    operator of Abbas et al., *SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication* (arXiv:2303.09540).

    The CLUSTER ID IS THE BLOCKING KEY — the cosine self-join is equi
    on ``cluster``, never all-pairs: candidate volume is
    Σ_c C(n_c, 2), tracking cluster sizes, and the 100 TB contract is
    the IVF one — grow ``n_centroids`` ~√N (or pass a trained
    codebook via ``centroids``) so per-list sizes stay flat and the
    join stays linear-ish; assignment itself is map-only over literal
    centroids (no shuffle to build the blocking). Survivor rule
    mirrors ``exact_dedup``'s keep-min: a vector is dropped iff a
    SMALLER-id same-cluster vector has round-6 cosine ≥ ``threshold``
    (deterministic, engine-portable; like the greedy id rule
    everywhere else, a transitive chain keeps only its minimum).
    Returns one row per vector: (vec_id, cluster, kept).

    ``centroids`` defaults to the deterministic md5-stratified sample
    (:func:`ivf_centroid_rows`) — oracle-reproducible, the ivf_topk
    pattern; pass ``kmeans_fit``'s codebook when cluster QUALITY
    matters more than twin-checkability. ``threshold`` is
    corpus-dependent: ~0.9 on real near-dup text embeddings; an
    isotropic random corpus (this repo's synthetic table) tops out
    near √(2·ln n_pairs / dim) ≈ 0.5, so the registered query uses a
    lower cut to keep the oracle non-vacuous."""
    if centroids is None:
        centroids = ivf_centroid_rows(emb, n_centroids)
    if not centroids:
        return emb.select(
            "vec_id",
            F.lit(None).cast("long").alias("cluster"),
            F.lit(True).alias("kept"),
        ).filter(F.lit(False))
    assigned = (
        ivf_assign(emb, centroids, dim)
        .select("vec_id", "c_emb", F.col("centroid_id").alias("cluster"))
    )
    a = assigned.select(
        F.col("vec_id").alias("va"), F.col("c_emb").alias("ea"), "cluster"
    )
    b = assigned.select(
        F.col("vec_id").alias("vb"), F.col("c_emb").alias("eb"), "cluster"
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("va") < F.col("vb"))
        .withColumn(
            "cos_r", F.round(_cos(dim)(F.col("ea"), F.col("eb")), 6)
        )
        .filter(F.col("cos_r") >= float(threshold))
        .select(F.col("vb").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("__dropped", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cluster",
            (~F.coalesce(F.col("__dropped"), F.lit(False))).alias("kept"),
        )
    )


def ivf_codebook_scheme(centroids: list) -> dict:
    """The canonical scheme stamp for an IVF/SemDeDup codebook — the
    dict ``streaming/incremental.py:_pin_index_scheme`` writes beside
    a maintained assignment table (round 12, VERDICT r11 #6): cluster
    ids are comparable only under ONE codebook, so scoring a delta
    against an index assigned under different centroids silently
    mis-blocks every pair (the minhash/simhash guard class, with
    "retrained codebook" as the drift mode). ``digest`` is md5 over
    the canonical (id, repr-exact coords) rendering, so any retrain —
    even one that keeps k and dim — produces a different stamp."""
    import hashlib

    parts = "|".join(
        f"{int(c)}:" + ",".join(repr(float(v)) for v in vec)
        for c, vec in centroids
    )
    return {
        "kind": "ivf_codebook",
        "k": len(centroids),
        "dim": len(centroids[0][1]) if centroids else 0,
        "digest": hashlib.md5(parts.encode()).hexdigest(),
    }


def _require_codebook_scheme(scheme: dict, centroids: list) -> None:
    """Per-field comparison of the known codebook-scheme keys (the
    _require_band_scheme form — extra stamp metadata from future
    versions must not break matching)."""
    expected = ivf_codebook_scheme(centroids)
    mism = []
    for field in ("kind", "k", "dim", "digest"):
        got = scheme.get(field)
        want = expected[field]
        if field in ("k", "dim"):
            try:
                got = int(got)
            except (TypeError, ValueError):
                pass
        if got != want:
            mism.append(f"{field}: stamp {scheme.get(field)!r}, caller {want!r}")
    if mism:
        raise ValueError(
            f"codebook scheme mismatch ({'; '.join(mism)}) — cluster "
            "ids from two codebooks never mean the same list, so the "
            "cluster-blocked join would silently miss semantic "
            "near-dups; score with the codebook the index was "
            "assigned under, or rebuild the index after a retrain"
        )


def verify_cluster_ids(index_assigned: DataFrame, centroids: list) -> None:
    """Stamp-less fallback check for a maintained assignment table: the
    index's distinct cluster ids must all exist in the caller's
    codebook (one bounded aggregate — k_index rows cross the wire, at
    most k_c for a healthy index). NECESSARY, not sufficient: a
    retrained codebook reusing the same id labels passes (only the
    digest stamp sees coordinate drift) — the verify_band_table class
    of check, for the trust_codebook path."""
    want = {int(c) for c, _ in centroids}
    got = [
        int(r.centroid_id)
        for r in index_assigned.select("centroid_id").distinct().collect()
        if r.centroid_id is not None
    ]
    orphans = sorted(set(got) - want)
    if orphans:
        raise ValueError(
            f"assignment index carries cluster ids {orphans[:8]} absent "
            "from the caller's codebook: the index was assigned under "
            "different centroids and the cluster-blocked join would "
            "silently miss semantic near-dups — score with the "
            "codebook the index was built with (see its _scheme.json "
            "stamp) or rebuild"
        )


def new_doc_semantic_candidates(
    index_assigned: DataFrame,
    new_emb: DataFrame,
    centroids: list,
    threshold: float = 0.9,
    dim: int | None = None,
    scheme: dict | None = None,
    trust_codebook: bool = False,
    verify_clusters: bool = True,
) -> DataFrame:
    """Ingest-time SemDeDup scoring (round 12, VERDICT r11 #6):
    candidate (new_vec_id, vec_id, cluster, cos_r) pairs between a
    batch of NEW embeddings and the maintained cluster-assignment
    index (streaming/incremental.py:ivf_index_table /
    incremental_ivf_index_stream) — the read-side half of semantic
    dedup-on-ingest. Only the delta is assigned (map-only over
    literal centroids); the join is equi on ``cluster`` against the
    linear-size index, so scoring a batch never rescans the corpus.
    Pairs carry the round-6 cosine and only those ≥ ``threshold``
    return; a downstream keep-min policy drops a delta vector iff a
    smaller-id partner exists (exactly :func:`semantic_dedup`'s rule —
    parity pytest in tests/test_incremental.py).

    The CODEBOOK IS THE SCHEME: cluster ids are only comparable under
    the centroids the index was assigned with — a retrained codebook
    re-lists every vector, so scoring a delta assigned under new
    centroids against old assignments silently mis-blocks every pair.
    Pass the index's ``_scheme.json`` (incremental_ivf_index_stream
    stamps it at first build; read via read_index_scheme) as
    ``scheme=`` and any drift — including a same-shape retrain, via
    the coordinate digest — refuses scan-lessly. Stamp-less calls
    refuse by default; ``trust_codebook=True`` is the in-session
    escape hatch (the trust_banding form), which still runs the
    :func:`verify_cluster_ids` bounded id-set check (catches a
    codebook whose ID SET differs; coordinate-only drift under reused
    ids needs the stamp) unless ``verify_clusters=False``.

    Orientation rules mirror new_doc_dup_candidates: self-matches
    excluded; the mirrored pair a replayed delta would create (both
    endpoints in new batch ∩ index) collapses to the smaller-id
    orientation; WITHIN-batch duplicates surface through a batch
    self-join term (neither endpoint indexed), so scoring never
    requires the merge to land first."""
    if not centroids:
        raise ValueError("empty codebook: nothing to assign clusters with")
    if scheme is not None:
        _require_codebook_scheme(scheme, centroids)
    elif trust_codebook:
        if verify_clusters:
            verify_cluster_ids(index_assigned, centroids)
    else:
        raise ValueError(
            "stamp-less semantic index refused: without its "
            "_scheme.json codebook stamp a retrained codebook is "
            "undetectable and the cluster-blocked join would "
            "silently miss semantic near-dups — pass "
            "scheme=read_index_scheme(<table path>) "
            "(streaming/incremental.py; incremental_ivf_index_stream "
            "stamps it at first build), or pass trust_codebook=True "
            "if this session assigned the index itself"
        )
    delta = (
        ivf_assign(new_emb, centroids, dim)
        .select("vec_id", "c_emb", F.col("centroid_id").alias("cluster"))
        .localCheckpoint(eager=True)
    )
    idx = index_assigned.select(
        "vec_id", "c_emb", F.col("centroid_id").alias("cluster")
    )
    q = delta.select(
        F.col("vec_id").alias("new_vec_id"),
        F.col("c_emb").alias("q_emb"),
        "cluster",
    )
    ix = idx.select(
        "vec_id", F.col("c_emb").alias("i_emb"), "cluster"
    )
    new_ids = delta.select(F.col("vec_id").alias("__nid")).distinct()
    idx_ids = idx.select(F.col("vec_id").alias("__iid")).distinct()
    both = new_ids.join(
        idx_ids, F.col("__nid") == F.col("__iid")
    ).select(F.col("__nid").alias("__both_id"))
    vs_index = (
        q.join(ix, "cluster")
        .filter(F.col("new_vec_id") != F.col("vec_id"))
        .withColumn(
            "cos_r", F.round(_cos(dim)(F.col("q_emb"), F.col("i_emb")), 6)
        )
        .filter(F.col("cos_r") >= float(threshold))
        .join(
            both.select(F.col("__both_id").alias("new_vec_id")).withColumn(
                "__q_in_idx", F.lit(True)
            ),
            "new_vec_id",
            "left",
        )
        .join(
            both.select(F.col("__both_id").alias("vec_id")).withColumn(
                "__i_in_new", F.lit(True)
            ),
            "vec_id",
            "left",
        )
        .filter(
            ~(
                F.coalesce(F.col("__q_in_idx"), F.lit(False))
                & F.coalesce(F.col("__i_in_new"), F.lit(False))
            )
            | (F.col("new_vec_id") < F.col("vec_id"))
        )
        .select("new_vec_id", "vec_id", "cluster", "cos_r")
    )
    b = delta.select(
        F.col("vec_id").alias("vec_id"),
        F.col("c_emb").alias("i_emb"),
        "cluster",
    )
    within = (
        q.join(b, "cluster")
        .filter(F.col("new_vec_id") < F.col("vec_id"))
        .join(
            idx_ids.select(F.col("__iid").alias("new_vec_id")),
            "new_vec_id",
            "left_anti",
        )
        .join(
            idx_ids.select(F.col("__iid").alias("vec_id")),
            "vec_id",
            "left_anti",
        )
        .withColumn(
            "cos_r", F.round(_cos(dim)(F.col("q_emb"), F.col("i_emb")), 6)
        )
        .filter(F.col("cos_r") >= float(threshold))
        .select("new_vec_id", "vec_id", "cluster", "cos_r")
    )
    return vs_index.unionByName(within)


def label_centroids(emb: DataFrame, ordered: bool = False) -> DataFrame:
    """Per-class embedding centroids (class prototypes — what real IVF
    training averages). Long-form shape: posexplode to (label, pos,
    val) rows so the mean parallelizes over label x dim cells instead
    of buffering whole vectors; output stays long-form (label, pos, m)
    per this repo's matrix philosophy — array assembly is an edge
    adapter.

    ``ordered=False`` (the default, the 100 TB path) sums each cell
    with the tree-aggregated ``F.sum`` — map-side partial aggregation,
    O(1) buffer per cell, at most 1-ulp nondeterminism from addition
    order. ``ordered=True`` folds each cell's values in vec_id order
    (sort_array(collect_list(...))): bit-exact and reproducible by a
    SQL oracle, but the aggregation buffer holds every class member's
    value (~16 B x class size per cell) — a multi-GB reducer buffer at
    10^9 vectors/class. Use it ONLY for engine-differential parity
    checks at test scale."""
    x = emb.select(
        "label",
        "vec_id",
        F.posexplode(as_double_array(F.col("embedding"))).alias("pos0", "val"),
    ).select(
        "label",
        "vec_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        "val",
    )
    if ordered:
        return (
            x.groupBy("label", "pos")
            .agg(
                F.sort_array(F.collect_list(F.struct("vec_id", "val"))).alias("sv"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "label",
                "pos",
                F.round(
                    F.aggregate(F.col("sv"), F.lit(0.0), lambda a, s: a + s.val)
                    / F.col("n"),
                    6,
                ).alias("m"),
            )
        )
    return x.groupBy("label", "pos").agg(
        F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("m")
    )


def ivf_centroid_rows(emb: DataFrame, n_centroids: int) -> list:
    """Deterministic coarse centroids: the ``n_centroids`` rows with the
    smallest ``md5(vec_id)`` (ties broken by vec_id) — a deterministic
    hash-stratified sample, engine-portable and oracle-reproducible
    (where a trained k-means codebook would be seed/iteration-order
    dependent), and uncorrelated with ingest order (the lowest-id pick
    this replaces inherits whatever domain/time skew id assignment
    carries). Returns [(centroid_id, [dims...])]; k·dim doubles —
    dimension-table sized, safe to hold on the driver like any
    broadcast dim."""
    rows = (
        emb.select("vec_id", as_double_array(F.col("embedding")).alias("e"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_centroids)
        .collect()
    )
    return [(int(r.vec_id), list(r.e)) for r in rows]


def _centroid_sims(emb_col_name: str, centroids, dim):
    """Array of (sim, -centroid_id) structs against literal centroid
    vectors — a pure map-side expression: no join, no shuffle, the
    centroid codebook lives inside the plan the way a broadcast var
    would. Struct order makes array_max/array_sort break ties toward
    the smaller centroid id.

    Built as ONE ``F.expr`` SQL string: assembling it from Column
    objects costs hundreds of py4j round trips (each HOF lambda is
    several JVM calls) — ~2.3 s of driver time per query at k=16,
    d=64; the single parsed expression is ~50 ms. Float parity is
    preserved: the same 0.0-seeded left folds, each centroid norm
    pre-folded to a Python double whose repr round-trips exactly, the
    row norm computed once."""
    import math

    del dim
    row_norm = f"sqrt(aggregate({emb_col_name}, 0.0D, (acc, x) -> acc + x * x))"
    structs = []
    for cid, vec in centroids:
        acc = 0.0
        for v in vec:
            acc += v * v
        cent_norm = math.sqrt(acc)
        arr = "array(" + ", ".join(f"{float(v)!r}D" for v in vec) + ")"
        dot_s = (
            f"aggregate(zip_with({arr}, {emb_col_name}, (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        structs.append(
            f"named_struct('sim', round({dot_s} / ({cent_norm!r}D * {row_norm}), 6), "
            f"'negid', {-cid}L)"
        )
    return F.expr("array(" + ", ".join(structs) + ")")


def ivf_assign(
    emb: DataFrame, centroids: list, dim: int | None = None
) -> DataFrame:
    """Corpus → inverted-list assignment (vec_id, c_emb, centroid_id):
    the INDEX of IVF. A map-only expression over literal centroids —
    no join, no shuffle; the corpus never moves to be indexed. A real
    deployment materializes this table once per corpus state (it IS
    the inverted file) and serves many query batches from it;
    recomputing it per batch charges k_c sims/vector to every serve,
    which is the difference between IVF beating and losing to the
    brute-force scan at small query counts (measured in SCALE.md r6:
    serve-with-inline-assignment cost ~3× brute force at 5 queries ×
    16 centroids, exactly the 16-vs-5 sims/row ratio)."""
    c = emb.select("vec_id", as_double_array(F.col("embedding")).alias("c_emb"))
    return c.withColumn(
        "centroid_id",
        (-F.array_max(_centroid_sims("c_emb", centroids, dim)).getField("negid")).cast("long"),
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int | None = None,
    centroids: list | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors are inverted-listed
    under their nearest coarse centroid; each query probes only its
    ``nprobe`` nearest lists.

    Scale shape (the property LSH bucketing lacks: data-adaptive
    lists): centroid assignment is a map-only expression over literal
    centroids — the corpus NEVER shuffles to be indexed. The probe
    join broadcasts the (tiny) query×nprobe table keyed on
    centroid_id, so candidate matching is also shuffle-free; the only
    exchange is the final per-query top-k over ~nprobe·N/k_c candidate
    rows. n_centroids should grow ~sqrt(N) to keep list sizes flat.

    Pass ``assigned`` (a materialized :func:`ivf_assign` table) to
    serve from a prebuilt index; otherwise the assignment is computed
    inline in the same plan (fine for one-shot queries, pays
    k_c sims/vector on every run)."""
    if centroids is None:
        centroids = ivf_centroid_rows(emb, n_centroids)
    if not centroids:
        # empty corpus -> empty result with the contract schema (an
        # untyped array() of zero centroid structs cannot be analyzed)
        return (
            emb.select(
                F.col("vec_id").alias("query_id"),
                F.col("vec_id"),
                F.lit(0.0).alias("cos_r"),
                F.lit(1).alias("rank"),
            ).filter(F.lit(False))
        )
    if assigned is None:
        assigned = ivf_assign(emb, centroids, dim)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("q_emb"),
    )
    probes = (
        q.withColumn(
            "probe_list",
            F.slice(
                F.reverse(F.array_sort(_centroid_sims("q_emb", centroids, dim))),
                1,
                nprobe,
            ),
        )
        .withColumn("probe", F.explode("probe_list"))
        .select("query_id", "q_emb", (-F.col("probe.negid")).cast("long").alias("centroid_id"))
    )
    pairs = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_r", F.round(_cos(dim)(F.col("q_emb"), F.col("c_emb")), 6))
    )
    return _ranked_topk(pairs, k)


def ivf_index_health(
    index: DataFrame, centroids: list, recenter_share: float = 2.0
) -> dict:
    """The two drift monitors of SCALE_PROBE_r8 ivf_drift as an
    executable library call over a maintained inverted file
    (:func:`ivf_assign` output / ``ivf_index_table(...).read()``):

    - ``mean_assigned_cos``: mean cosine between each vector and its
      assigned centroid — assignment-quality drift;
    - ``max_list_share``: the hottest inverted list's corpus share vs
      the uniform 1/k_c — the monitor that actually moves under
      COHERENT drift (measured: 50% turnover left recall at 1.00 but
      doubled the hot list, 0.08 → 0.15; serve cost tails with it);
    - ``recenter``: True when max_list_share > recenter_share·(1/k_c)
      — the documented rule: keep riding the Θ(delta) upsert below
      it, pay the kmeans retrain above it (a hash re-SAMPLE does not
      rebalance — measured 0.165 vs kmeans' 0.079).

    One aggregate job over the index (scalar read); at 100 TB both
    statistics are additively maintainable per (centroid, batch) if
    even one scan is too much.

    Index rows assigned to centroid ids ABSENT from ``centroids``
    (the mid-recenter situation) are never silently excluded: a LEFT
    join keeps them in every list count (they can be the hottest
    list), they are reported as ``orphan_rows``, and any orphan
    forces ``recenter=True`` — an index referencing dropped centroids
    is stale by definition. ``mean_assigned_cos`` averages over the
    matched rows only (there is no vector to compare orphans to)."""
    k_c = max(1, len(centroids))
    cent_df = index.sparkSession.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in centroids],
        "centroid_id long, c_vec array<double>",
    )
    row = (
        index.join(F.broadcast(cent_df), "centroid_id", "left")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cosine_similarity(F.col("c_emb"), F.col("c_vec"))).alias(
                "s"
            ),
            F.sum(
                F.when(F.col("c_vec").isNull(), 1).otherwise(0)
            ).alias("orph"),
            F.sum(
                F.when(F.col("c_vec").isNotNull(), 1).otherwise(0)
            ).alias("matched"),
        )
        .agg(
            F.sum("n").alias("tot"),
            F.max("n").alias("mx"),
            F.sum("s").alias("ssum"),
            F.sum("orph").alias("orphans"),
            F.sum("matched").alias("matched"),
        )
        .collect()[0]
    )
    tot = int(row.tot or 0)
    if tot == 0:
        return {
            "mean_assigned_cos": None,
            "max_list_share": None,
            "orphan_rows": 0,
            "recenter": False,
        }
    share = row.mx / tot
    orphans = int(row.orphans or 0)
    matched = int(row.matched or 0)
    return {
        "mean_assigned_cos": (
            round(row.ssum / matched, 4) if matched else None
        ),
        "max_list_share": round(share, 4),
        "orphan_rows": orphans,
        "recenter": bool(orphans > 0 or share > recenter_share / k_c),
    }


def ivf_health_report_df(
    emb: DataFrame,
    n_centroids: int = 16,
    recenter_share: float = 2.0,
    centroids: list | None = None,
) -> DataFrame:
    """The IVF drift monitors as a QUERYABLE single-row DataFrame
    (round 9, VERDICT r8 #6 — :func:`ivf_index_health` returns a
    driver-side dict; dashboards and the oracle harness need a plan):
    (n_vectors, n_lists, max_list_share, mean_assigned_cos, recenter).
    ``recenter`` applies the documented rule (SCALE.md §8): ride the
    Θ(delta) upsert while the hottest list's share stays under
    ``recenter_share``·(1/k_c); above it, pay the Θ(N·k) Lloyd
    recentering — list BALANCE, not recall, is what coherent drift
    moves (measured: 50% turnover held recall at 1.00 while the hot
    list doubled 0.08→0.15). One map-side assignment expression over
    literal centroids + one aggregate: the corpus never shuffles, the
    report is k_c-bounded then 1 row. The share comparison uses the
    UNROUNDED n/total (an exact integer division both engines compute
    identically); the displayed doubles are rounded for cross-engine
    stability of the float sums."""
    if centroids is None:
        centroids = ivf_centroid_rows(emb, n_centroids)
    if not centroids:
        # empty corpus -> the report an empty-input aggregate yields
        # (sum/max over zero lists are NULL, count 0) — the same row
        # the SQL twin's final aggregate produces, and the schema the
        # non-empty path has (an untyped array() of zero centroid
        # structs cannot even be analyzed, cf. ivf_topk's guard)
        return emb.sparkSession.range(1).select(
            F.lit(None).cast("bigint").alias("n_vectors"),
            F.lit(0).cast("bigint").alias("n_lists"),
            F.lit(None).cast("double").alias("max_list_share"),
            F.lit(None).cast("double").alias("mean_assigned_cos"),
            F.lit(None).cast("boolean").alias("recenter"),
        )
    k_c = max(1, len(centroids))
    c = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("c_emb")
    )
    best = F.array_max(_centroid_sims("c_emb", centroids, None))
    assigned = c.select(
        (-best.getField("negid")).cast("long").alias("centroid_id"),
        best.getField("sim").alias("cos_r"),
    )
    lists = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cos_r").alias("s")
    )
    return (
        lists.agg(
            F.sum("n").alias("n_vectors"),
            F.count(F.lit(1)).alias("n_lists"),
            (F.max("n") / F.sum("n")).alias("share"),
            (F.sum("s") / F.sum("n")).alias("mean_cos"),
        )
        .select(
            "n_vectors",
            "n_lists",
            F.round("share", 4).alias("max_list_share"),
            F.round("mean_cos", 4).alias("mean_assigned_cos"),
            (F.col("share") > float(recenter_share) / k_c).alias(
                "recenter"
            ),
        )
    )


def _check_threshold(threshold_num: int, threshold_den: int) -> tuple[int, int]:
    """The set-similarity threshold num/den as ints, 1 <= num <= den."""
    num, den = int(threshold_num), int(threshold_den)
    if not 1 <= num <= den:
        raise ValueError(
            "set-similarity threshold must satisfy 1 <= num <= den: "
            f"got {threshold_num}/{threshold_den} (num=0 would make the "
            "join-based candidate paths diverge — no equi-join method "
            "can emit zero-overlap pairs)"
        )
    return num, den


def _size_ok(sz_a, sz_b, num: int, den: int):
    """Integer size-ratio prune: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    so a pair with den·min < num·max can never qualify."""
    return F.lit(den) * F.least(sz_a, sz_b) >= F.lit(num) * F.greatest(
        sz_a, sz_b
    )


def _qualifying(pairs: DataFrame, num: int, den: int) -> DataFrame:
    """Keep the (key_a, key_b, n_shared, sz_a, sz_b) rows with
    den·|∩| ≥ num·|∪|, |∪| = sz_a + sz_b − |∩|."""
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    return pairs.filter(F.lit(den) * F.col("n_shared") >= F.lit(num) * union_sz)


def set_similarity_join(
    sets: DataFrame,
    key_col: str,
    item_col: str,
    threshold_num: int,
    threshold_den: int,
    dense_bitmap_domain: int | None = None,
) -> DataFrame:
    """Exact Jaccard set-similarity self-join — the one exact
    implementation, for documents (``ngram_jaccard_pairs``,
    ``near_dup_pairs_auto`` over ``doc_shingles``) and for any other
    (key, item) set table: all key pairs whose item sets satisfy
    ``den·|∩| ≥ num·|∪|`` (i.e. J ≥ num/den, held in cross-multiplied
    INTEGER form end to end — no float boundary can flip a pair; cf.
    the reference's all-pairs user-overlap loops, count_*.py).

    Returns (key_a, key_b, n_shared, sz_a, sz_b) with key_a < key_b.
    On every path sz counts ROWS (duplicate (key, item) rows and NULL
    items included) and n_shared counts DISTINCT non-NULL shared items
    — NULL never matches, as in an inner join on item.

    Three physical paths, all exact (pytest-pinned against an
    independent Python model in tests/test_setsim_property.py):

    * **single join** — the inverted index self-joined on item, |∩|
      counted per pair: the fewest stages, right where no item is
      hot, quadratic in the hottest item's key frequency;
    * **prefix filter** (the 100 TB shape, Chaudhuri et al. ICDE 2006;
      Bayardo et al. WWW 2007) — rank each key's items by global
      document frequency asc (tie: item asc — a shared total order); a
      key of size s only emits its ``s − ⌈t·s⌉ + 1`` rarest items as
      join keys (⌈t·s⌉ in exact integer arithmetic:
      ``(num·s + den − 1) div den``). Lemma: J(A,B) ≥ t implies
      |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ ≥ ⌈t·|X|⌉ for each side (the size
      bound min ≥ t·max is itself implied by J ≥ t, so the integer
      size-ratio prune inside the candidate join never drops a
      qualifying pair), and two sets with overlap ≥ α share an
      element within their (|X|−α+1)-prefixes under any shared total
      order. NULL items are private elements — they count toward sz
      and can sit in a prefix, but the lemma's rank-counting argument
      is indifferent to unmatchable elements, so exactness holds. Hot
      items (a popular cell / a stopword shingle) have maximal df, so
      they sort to every key's *suffix* and never become join keys —
      the m² reducer blowup on an item shared by m keys is capped at
      the number of keys rare-listing it;
    * **dense bitmap** (``dense_bitmap_domain=D``; requires every
      non-NULL item to be a long in [0, D)) — below.

    Without ``dense_bitmap_domain`` the path is chosen by
    :func:`choose_exact_path` from :func:`set_similarity_stats` (one
    scalar aggregate); :func:`set_similarity_join_auto` reuses the
    stats it already computed for the exact→LSH handoff.

    Prefix-path plan choices (measured at sf0.1, SCALE.md): item df
    comes from a map-side-combined ``groupBy(item).count()`` joined
    back (AQE broadcasts the item-count table when small) — the full
    set table never shuffles by item, unlike a
    ``Window.partitionBy(item)``; sz and the rarity rank share one
    exchange on key; candidate pairs are ``distinct``-ed on the two
    key columns only; verification joins the per-key sorted item
    arrays and takes ``size(array_intersect)``.

    In a *dense* regime (low threshold, near-uniform df, qualifying
    pairs a constant fraction of all pairs — the covisit query) no
    exact method is subquadratic in pairs. There the bitmap path turns
    each key's set into a ⌈D/64⌉-word bitmap, enumerates pairs by a
    broadcast nested-loop self-join over the (small) key table with
    the integer size-ratio prune, and takes |∩| as
    Σ bit_count(word_a & word_b) — measured 1.4 s vs 4.7 s (prefix) vs
    10.4 s (single join) on the covisit workload at sf0.1, where
    qualifying pairs are ~20% of ALL key pairs. It is right while the
    KEY table is broadcastable (≤ ~10M keys × D/8 bytes); past that a
    dense workload's exact output is itself quadratic and the LSH
    family (:func:`set_similarity_join_auto` hands off to
    :func:`set_similarity_join_lsh`) is the 100 TB answer. Identical
    sets are collapsed to one representative before the pair loop and
    expanded after it (the same quotient as the LSH path).
    """
    num, den = _check_threshold(threshold_num, threshold_den)
    base = sets.select(F.col(key_col).alias("key"), F.col(item_col).alias("item"))
    if dense_bitmap_domain is not None:
        return _bitmap_join(base, num, den, int(dense_bitmap_domain))
    return _exact_join(base, num, den, set_similarity_stats(base, "key", "item"))


def _exact_join(base: DataFrame, num: int, den: int, stats: dict) -> DataFrame:
    """The single-join or prefix path over a (key, item) table, as
    :func:`choose_exact_path` decides from ``stats``."""
    if choose_exact_path(stats) == "prefix":
        return _prefix_join(base, num, den)
    return _single_join(base, num, den)


def _single_join(base: DataFrame, num: int, den: int) -> DataFrame:
    # sz counts every row; the join side keeps one row per distinct
    # non-NULL (key, item), so |∩| has the set semantics of the prefix
    # path's array_intersect. The distinct rides the sz window's key
    # partitioning (no exchange).
    aug = (
        base.withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("key")))
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    common = (
        aug.alias("a")
        .join(
            aug.alias("b"),
            (F.col("a.item") == F.col("b.item"))
            & (F.col("a.key") < F.col("b.key"))
            & _size_ok(F.col("a.sz"), F.col("b.sz"), num, den),
        )
        .groupBy(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select("key_a", "key_b", "n_shared", "sz_a", "sz_b")
    )
    return _qualifying(common, num, den)


def _prefix_join(base: DataFrame, num: int, den: int) -> DataFrame:
    # df via pre-aggregated join (combine-heavy shuffle of counts,
    # not rows; AQE broadcasts the small side). Left join keeps
    # NULL-item rows (df never read for them past the rank).
    item_df = base.groupBy("item").agg(F.count("*").alias("df"))
    aug = (
        base.join(item_df, "item", "left")
        .withColumn("sz", F.count("*").over(Window.partitionBy("key")))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("key").orderBy("df", "item")
            ),
        )
        .localCheckpoint(eager=True)
    )
    # exact integer ⌈num·sz/den⌉, then prefix len = sz − ceil + 1
    ceil_ts = F.floor(
        (F.lit(num) * F.col("sz") + F.lit(den - 1)) / F.lit(den)
    ).cast("long")
    prefix = aug.filter(
        F.col("rk") <= F.col("sz") - ceil_ts + F.lit(1)
    ).select("key", "item", "sz")
    # PPJoin's positional filter was tried here and measured
    # SLOWER at sf0.1 (6.9 s vs 4.7 s): the per-row rank algebra
    # on 11.7M joined rows costs more than the pruned rows save.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.item") == F.col("b.item"))
            & (F.col("a.key") < F.col("b.key"))
            & _size_ok(F.col("a.sz"), F.col("b.sz"), num, den),
        )
        .select(
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
        )
        .distinct()
    )
    # collect_list drops NULL items (they can never intersect);
    # sz still counts them, matching the other paths.
    key_sets = aug.groupBy("key").agg(
        F.sort_array(F.collect_list("item")).alias("arr"),
        F.max("sz").alias("sz"),
    )
    common = (
        cand.join(
            key_sets.select(
                F.col("key").alias("key_a"),
                F.col("arr").alias("arr_a"),
                F.col("sz").alias("sz_a"),
            ),
            "key_a",
        )
        .join(
            key_sets.select(
                F.col("key").alias("key_b"),
                F.col("arr").alias("arr_b"),
                F.col("sz").alias("sz_b"),
            ),
            "key_b",
        )
        .select(
            "key_a",
            "key_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("long")
            .alias("n_shared"),
            "sz_a",
            "sz_b",
        )
    )
    return _qualifying(common, num, den)


def _bitmap_join(base: DataFrame, num: int, den: int, domain: int) -> DataFrame:
    nwords = (domain + 63) // 64
    bm = (
        base.groupBy("key")
        .agg(
            F.count("*").alias("sz"),
            F.expr("filter(collect_list(item), c -> c IS NOT NULL)").alias(
                "arr"
            ),
        )
        .withColumn(
            "bm",
            F.expr(
                f"transform(sequence(0, {nwords - 1}), w -> "
                "aggregate(filter(arr, c -> int(c div 64) = w), 0L, "
                "(acc, c) -> acc | shiftleft(1L, int(c % 64))))"
            ),
        )
        .drop("arr")
    )
    # quotient by set equality BEFORE the U² pair loop — the same
    # collapse as the LSH path (docstring there): the bitmap + sz
    # IS a canonical encoding of the set (distinct items in the
    # words, NULL count in sz − bit count), so the shared digest
    # applies directly
    bm = _with_set_digest(bm, "bm").localCheckpoint(eager=True)
    grp, work = _identical_set_groups(bm)
    # the checkpointed key table is tiny — AQE would coalesce it
    # to one partition and serialize the nested-loop join;
    # repartition restores task parallelism on the streamed side
    par = 2 * base.sparkSession.sparkContext.defaultParallelism
    a = work.select(
        F.col("key").alias("key_a"),
        F.col("sz").alias("sz_a"),
        F.col("bm").alias("bm_a"),
    ).repartition(par)
    b = work.select(
        F.col("key").alias("key_b"),
        F.col("sz").alias("sz_b"),
        F.col("bm").alias("bm_b"),
    )
    common = (
        a.join(
            F.broadcast(b),
            (F.col("key_a") < F.col("key_b"))
            & _size_ok(F.col("sz_a"), F.col("sz_b"), num, den),
        )
        .withColumn(
            "n_shared",
            F.expr(
                "aggregate(zip_with(bm_a, bm_b, "
                "(x, y) -> bigint(bit_count(x & y))), 0L, "
                "(acc, v) -> acc + v)"
            ),
        )
        .select("key_a", "key_b", "n_shared", "sz_a", "sz_b")
    )
    self_groups = _qualifying_self_groups(
        work,
        grp,
        F.expr(
            "aggregate(transform(bm, x -> "
            "bigint(bit_count(x))), 0L, (acc, v) -> acc + v)"
        ),
        num,
        den,
    )
    return _expand_identical_groups(
        _qualifying(common, num, den), bm.select("__pdig", "key"), grp, self_groups
    )


def set_similarity_stats(
    sets: DataFrame, key_col: str, item_col: str
) -> dict:
    """Cheap statistics that bound the exact join's candidate volume —
    the inputs to both route rules, :func:`choose_exact_path` and
    :func:`choose_set_similarity_path`. One scalar-only aggregate
    action over the (key, item) table: a grouping-sets count per key
    and per item in one shuffle, then one global fold (only scalars
    reach the driver):

    - ``n_rows`` / ``n_keys``: table size and distinct non-NULL key
      count;
    - ``cand_pairs``: Σ_item df·(df−1)/2 — EVERY pair sharing ≥1 item
      is counted by at least one shared item, so this upper-bounds
      both the qualifying-pair count (a qualifying pair shares
      ⌈t·max(sz)⌉ ≥ 1 items) and the inverted-index join's generated
      candidate rows;
    - ``max_df``: the hottest non-NULL item's key count (the m² blowup
      knob).

    The decision rules only need orders of magnitude."""
    base = sets.select(F.col(key_col).alias("key"), F.col(item_col).alias("item"))
    # grouping_id: 1 on the per-key rows, 2 on the per-item rows
    counts = base.groupingSets([["key"], ["item"]], "key", "item").agg(
        F.grouping_id().alias("g"), F.count(F.lit(1)).alias("c")
    )
    per_key = F.col("g") == 1
    per_item = (F.col("g") == 2) & F.col("item").isNotNull()
    row = counts.agg(
        F.coalesce(F.sum(F.when(per_key, F.col("c"))), F.lit(0)).alias("n_rows"),
        F.count(F.when(per_key & F.col("key").isNotNull(), 1)).alias("n_keys"),
        F.coalesce(
            F.sum(F.when(per_item, F.col("c") * (F.col("c") - 1) / 2)),
            F.lit(0.0),
        ).alias("cand_pairs"),
        F.coalesce(F.max(F.when(per_item, F.col("c"))), F.lit(0)).alias("max_df"),
    ).collect()[0]
    return {
        "n_rows": int(row.n_rows),
        "n_keys": int(row.n_keys),
        "cand_pairs": float(row.cand_pairs),
        "max_df": int(row.max_df),
    }


def choose_exact_path(stats: dict) -> str:
    """Pick the exact join's candidate generation from
    :func:`set_similarity_stats` output: ``"single"`` or ``"prefix"``.

    The single join's reducer work on one item shared by m keys is
    ~m² candidate rows, so it degrades wherever an item's key
    frequency is ≫ √N (SCALE.md records the measured crossover on
    document shingles); the prefix filter structurally caps that
    blowup but pays ~2 extra stages — measured 1.6× slower on a
    *uniform* document corpus where no shingle is hot. Rule: prefix
    only when max_df > 4·√n_keys. On the committed corpora the 3-gram
    shingle max_df is 9 / 7 / 25 against 4·√N = 89 / 89 / 283 at
    sf0.001 / sf0.01 / sf0.1, so ``ngram_jaccard_pairs`` runs the
    single join at every scale."""
    if stats["max_df"] > 4.0 * math.sqrt(stats["n_keys"]):
        return "prefix"
    return "single"


#: The exact→LSH handoff: above this many candidate partners per key
#: (over at least MIN_LSH_KEYS keys) the set-similarity routers leave
#: the exact join.
PAIRS_PER_KEY_BUDGET = 64
MIN_LSH_KEYS = 4096


def choose_set_similarity_path(stats: dict) -> str:
    """Route ``set_similarity_join_auto`` from :func:`set_similarity_stats`
    output: ``"exact"`` or ``"lsh"``.

    The dense-regime bound is the round-6 SCALE_PROBE measurement
    (SCALE.md setsim table: 4× users → 16.04× qualifying pairs — the
    documented Ω(U²) regime of any EXACT method): when the candidate
    bound says the average key would meet more than
    :data:`PAIRS_PER_KEY_BUDGET` partners, candidate volume is growing
    with U² rather than U and no exact filter can prune it — the
    MinHash-LSH path (sub-quadratic candidate generation, exact
    verification of candidates) is the only shape that survives a
    100× scale-up. Below the budget, or on small key tables
    (< :data:`MIN_LSH_KEYS`, where U² is trivially affordable and
    exact recall is free), the exact path keeps its guarantee."""
    n_keys = stats["n_keys"]
    if n_keys < MIN_LSH_KEYS:
        return "exact"
    # candidate bound can never exceed all-pairs
    est = min(stats["cand_pairs"], n_keys * (n_keys - 1) / 2.0)
    if est > float(PAIRS_PER_KEY_BUDGET) * n_keys:
        return "lsh"
    return "exact"


def _with_set_digest(df, payload_col: str):
    """Append the multiset-exact set digest ``__pdig``: the payload's
    elements hashed individually then md5-chained (no separator
    ambiguity), with sz appended so NULL-count differences split
    groups. Shared by the LSH and dense-bitmap collapse paths — one
    definition, so the encoding can never desynchronize between
    them."""
    return df.withColumn(
        "__pdig",
        F.expr(
            f"md5(aggregate(transform({payload_col}, x -> "
            "md5(cast(x as string))), cast('' as string), "
            "(acc, h) -> md5(acc || h)) || ':' || cast(sz as string))"
        ),
    )


def _identical_set_groups(digested):
    """(grp, work): per-digest (rep = min key, g = group size) and the
    representative rows of ``digested`` (one per distinct set)."""
    grp = digested.groupBy("__pdig").agg(
        F.min("key").alias("rep"), F.count(F.lit(1)).alias("g")
    )
    work = (
        digested.join(grp.select("__pdig", "rep"), "__pdig")
        .filter(F.col("key") == F.col("rep"))
        .drop("rep")
    )
    return grp, work


def _qualifying_self_groups(work, grp, self_n, num: int, den: int):
    """The g≥2 groups whose self overlap passes the threshold test —
    the within-group half of the expansion. ``self_n`` is the
    path-specific distinct-item count expression."""
    return (
        work.withColumn("self_n", self_n)
        .join(grp.filter(F.col("g") >= 2), "__pdig")
        .filter(
            F.lit(den) * F.col("self_n")
            >= F.lit(num) * (F.lit(2) * F.col("sz") - F.col("self_n"))
        )
        .select("__pdig", "self_n", "sz")
    )


def _expand_identical_groups(qual, mem, grp, self_groups):
    """Expansion half of the identical-set collapse, shared by the
    LSH and dense-bitmap paths. Inputs: ``qual`` — threshold-FILTERED
    rep-level pairs (key_a, key_b, n_shared, sz_a, sz_b); ``mem`` —
    (__pdig, key) group membership; ``grp`` — (__pdig, rep, g);
    ``self_groups`` — (__pdig, self_n, sz) for the g≥2 groups whose
    self overlap passes the same threshold test. Cross-group member
    pairs inherit the rep pair's exact values (payload equality makes
    them identical by construction), re-ordered per member pair with
    sizes following the ordered sides; within-group pairs are all
    C(g,2) members of each qualifying group."""
    ga = grp.select(
        F.col("rep").alias("key_a"), F.col("__pdig").alias("__pa")
    )
    gb = grp.select(
        F.col("rep").alias("key_b"), F.col("__pdig").alias("__pb")
    )
    cross = (
        qual.join(ga, "key_a")
        .join(gb, "key_b")
        .join(
            mem.select(F.col("__pdig").alias("__pa"), F.col("key").alias("ma")),
            "__pa",
        )
        .join(
            mem.select(F.col("__pdig").alias("__pb"), F.col("key").alias("mb")),
            "__pb",
        )
        .select(
            F.least("ma", "mb").alias("key_a"),
            F.greatest("ma", "mb").alias("key_b"),
            "n_shared",
            F.when(F.col("ma") < F.col("mb"), F.col("sz_a"))
            .otherwise(F.col("sz_b"))
            .alias("sz_a"),
            F.when(F.col("ma") < F.col("mb"), F.col("sz_b"))
            .otherwise(F.col("sz_a"))
            .alias("sz_b"),
        )
    )
    within = (
        self_groups.join(
            mem.select("__pdig", F.col("key").alias("ma")), "__pdig"
        )
        .join(mem.select("__pdig", F.col("key").alias("mb")), "__pdig")
        .filter(F.col("ma") < F.col("mb"))
        .select(
            F.col("ma").alias("key_a"),
            F.col("mb").alias("key_b"),
            F.col("self_n").alias("n_shared"),
            F.col("sz").alias("sz_a"),
            F.col("sz").alias("sz_b"),
        )
    )
    return cross.unionByName(within)


def set_similarity_join_lsh(
    sets: DataFrame,
    key_col: str,
    item_col: str,
    threshold_num: int,
    threshold_den: int,
    k: int = 16,
    bands: int = 8,
    dense_bitmap_domain: int | None = None,
    collapse_identical: bool = True,
    materialize: str = "checkpoint",
) -> DataFrame:
    """MinHash-LSH candidate generation + EXACT verification for the
    generic (key, item) set table — the dense-regime escape hatch of
    :func:`set_similarity_join` (same output schema and row semantics:
    (key_a, key_b, n_shared, sz_a, sz_b), key_a < key_b, pairs with
    den·|∩| ≥ num·|∪|). Output is a SUBSET of the exact join's pairs:
    verification is exact (no false positives can survive), LSH can
    only *miss* pairs whose signatures never agree on a band —
    P(candidate) = 1 − (1 − J^r)^bands with r = k/bands.

    Scale shape: signatures are ``k`` min-md5 aggregates per key
    (map-side combined, one exchange on key); candidates come from an
    equi-join on (band, band_hash) — shuffle keyed on 32-char hashes,
    never an all-pairs loop, which is the whole point: the exact
    paths' candidate volume is Ω(U²) in the dense regime (measured,
    SCALE.md setsim) while band collisions track the qualifying pairs.

    ``dense_bitmap_domain=D`` verifies candidates with ⌈D/64⌉-word
    bitmaps and bit_count (integer lanes) instead of sorted-array
    intersection — right when items are longs in [0, D); semantics
    identical (duplicate (key,item) rows count once in |∩| either
    way, matching array_intersect's set semantics; sz counts rows,
    matching the exact paths).

    ``collapse_identical=True`` (default) quotients the key table by
    SET EQUALITY before the band join — the same move
    ``near_dup_components`` makes for documents: g keys holding the
    same multiset have identical signatures, so every band bucket
    gains g² candidate rows from them (the round-7 probe measured the
    replicated covisit corpus paying exactly this). Keys collapse to
    their min-key representative by a payload digest (multiset-exact:
    sz + the sorted item list, so NULL counts and duplicates
    distinguish); banding/verification run on distinct sets only, and
    qualifying pairs expand back through the group table — cross-group
    pairs inherit the rep pair's exact (n_shared, sz), within-group
    pairs qualify by the same threshold test on the group's self
    overlap. Output is IDENTICAL to the uncollapsed join
    (pytest-pinned): identical sets always collide on every band, so
    no within- or cross-group pair can be lost by collapsing."""
    num, den = _check_threshold(threshold_num, threshold_den)
    kc, it = F.col(key_col), F.col(item_col)
    base = sets.select(kc.alias("key"), it.alias("item"))
    aggs = [
        F.min(
            F.md5(F.concat(F.lit(f"{i}:"), F.col("item").cast("string")))
        ).alias(f"mh_{i}")
        for i in range(k)
    ]
    if dense_bitmap_domain is not None:
        nwords = (int(dense_bitmap_domain) + 63) // 64
        aggs += [
            F.count(F.lit(1)).alias("sz"),
            F.expr("filter(collect_list(item), c -> c IS NOT NULL)").alias(
                "arr0"
            ),
        ]
        sig = (
            base.groupBy("key")
            .agg(*aggs)
            .withColumn(
                "payload",
                F.expr(
                    f"transform(sequence(0, {nwords - 1}), w -> "
                    "aggregate(filter(array_distinct(arr0), c -> int(c div 64) = w), 0L, "
                    "(acc, c) -> acc | shiftleft(1L, int(c % 64))))"
                ),
            )
            .drop("arr0")
        )
        n_shared_expr = F.expr(
            "aggregate(zip_with(pl_a, pl_b, "
            "(x, y) -> bigint(bit_count(x & y))), 0L, (acc, v) -> acc + v)"
        )
    else:
        # collect_list drops NULL items (they can never intersect);
        # sz still counts them, matching the exact paths.
        aggs += [
            F.count(F.lit(1)).alias("sz"),
            F.sort_array(F.collect_list("item")).alias("payload"),
        ]
        sig = base.groupBy("key").agg(*aggs)
        n_shared_expr = F.size(F.array_intersect("pl_a", "pl_b")).cast("long")
    bb = minhash_band_rows(k, bands)
    # One materialization: the signature/payload table feeds the band
    # table (both self-join sides), the verification join-backs, and
    # (when collapsing) the group membership/expansion joins.
    # ``materialize="checkpoint"`` (default, the round-8 lifecycle
    # rule) uses an eager localCheckpoint whose blocks the
    # ContextCleaner reclaims once the caller drops the result —
    # varied (k, bands, threshold) invocations (the auto router's
    # case) never accumulate CacheManager entries (pytest-pinned).
    # ``materialize="persist"`` keeps the CacheManager entry: right
    # for FIXED-parameterization registered queries, where the
    # canonical plan is one bounded entry reused across repeated
    # invocations (the bench's warm iterations) instead of
    # re-signing the corpus each call.
    # Keys whose items are all NULL have a NULL mh_0; they can never
    # qualify (|∩|=0 < num·|∪| for num>0), so they are dropped before
    # banding rather than colliding in one degenerate md5('') bucket.
    if materialize not in ("checkpoint", "persist"):
        raise ValueError(f"materialize must be checkpoint|persist: {materialize}")
    if collapse_identical:
        sig = _with_set_digest(sig, "payload")
    sig = (
        sig.persist()
        if materialize == "persist"
        else sig.localCheckpoint(eager=True)
    )
    if collapse_identical:
        grp, work = _identical_set_groups(sig)
    else:
        work = sig
    bands_df = (
        work.filter(F.col("mh_0").isNotNull())
        .select("key", "sz", bb.alias("bb"))
        .select(
            "key",
            "sz",
            F.col("bb.band").alias("band"),
            F.col("bb.band_hash").alias("band_hash"),
        )
    )
    a = bands_df.select(
        F.col("key").alias("key_a"),
        F.col("sz").alias("sz_a"),
        "band",
        "band_hash",
    )
    b_ = bands_df.select(
        F.col("key").alias("key_b"),
        F.col("sz").alias("sz_b"),
        "band",
        "band_hash",
    )
    # Candidate pairs stay NARROW through the band join and the
    # distinct (sz is 8 B; the wide payload would multiply the
    # exchange by the band multiplicity ×payload width — the same
    # physical-plan choice the exact prefix path makes); payloads
    # join back per side afterwards, sized by the deduped pair set.
    cand = (
        a.join(b_, ["band", "band_hash"])
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & _size_ok(F.col("sz_a"), F.col("sz_b"), num, den)
        )
        .select("key_a", "key_b")
        .distinct()
    )
    payloads = work.select("key", "sz", "payload")
    common = (
        cand.join(
            payloads.select(
                F.col("key").alias("key_a"),
                F.col("sz").alias("sz_a"),
                F.col("payload").alias("pl_a"),
            ),
            "key_a",
        )
        .join(
            payloads.select(
                F.col("key").alias("key_b"),
                F.col("sz").alias("sz_b"),
                F.col("payload").alias("pl_b"),
            ),
            "key_b",
        )
        .withColumn("n_shared", n_shared_expr)
        .select("key_a", "key_b", "n_shared", "sz_a", "sz_b")
    )
    qual = _qualifying(common, num, den)
    if not collapse_identical:
        return qual
    # Expansion back to keys. Cross-group: every member pair of a
    # qualifying rep pair inherits its exact (n_shared, sz) — payload
    # equality within groups makes the values identical by
    # construction; ordering re-derived per member pair, sizes follow
    # the ordered sides. Within-group: the group's self overlap
    # (distinct non-NULL items) decides all C(g,2) member pairs at
    # once with the SAME threshold test (NULL rows inflate sz, so an
    # identical pair can legitimately fail at high thresholds — as in
    # the uncollapsed join).
    self_n = (
        F.expr(
            "aggregate(transform(payload, x -> bigint(bit_count(x))), "
            "0L, (acc, v) -> acc + v)"
        )
        if dense_bitmap_domain is not None
        else F.size(F.array_distinct("payload")).cast("long")
    )
    self_groups = _qualifying_self_groups(work, grp, self_n, num, den)
    return _expand_identical_groups(
        qual, sig.select("__pdig", "key"), grp, self_groups
    )


def lsh_collision_probability(
    j: float, k: int, bands: int
) -> float:
    """P(a pair at Jaccard ``j`` becomes an LSH candidate) under a
    ``bands``×(k/bands) banding: 1 − (1 − j^r)^bands with r = k/bands.
    The family-average statement of MinHash theory — per-pair recall is
    monotone INCREASING in j, so a guarantee at the threshold extends
    to every qualifying pair."""
    r = k // bands
    return 1.0 - (1.0 - j**r) ** bands


#: Signature-width cap of the recall-contract banding.
LSH_MAX_K = 64

def choose_lsh_params(
    threshold_num: int,
    threshold_den: int,
    target_recall: float,
) -> tuple[int, int]:
    """(k, bands) meeting an explicit recall CONTRACT: P(collide) ≥
    ``target_recall`` at J = threshold, with ROWS-PER-BAND MAXIMIZED
    under the :data:`LSH_MAX_K` signature-width cap.

    The objective is candidate PRUNING, not minimal signature cost
    (round-9 ADVICE — the docstring previously claimed "smallest
    signature", which this selector deliberately does not optimize):
    larger rows-per-band r makes the S-curve steeper, so sub-threshold
    junk pairs are structurally far less likely to become candidates —
    the dominant cost at scale is the candidate-verification volume,
    not the k min-md5 aggregates. Cheaper small-r bandings that also
    meet the target exist and are deliberately rejected: at
    (3/10, 0.9) this returns k=50 (r=2, 25 bands) although k=7 (r=1,
    7 bands) reaches P≈0.918 — with r=1 every pair sharing ANY single
    minhash collides, so the candidate set balloons with
    low-similarity pairs that exact verification must then discard.

    Why this shape: :func:`choose_lsh_bands` pins the S-curve MIDPOINT
    at the threshold, so measured recall at the boundary is ~0.5 by
    construction (SCALE_PROBE_r7 setsim rows) — correct cost
    engineering, silent answer-quality change. This selector inverts
    the curve instead: for each rows-per-band r (descending), the band
    count needed is b = ⌈ln(1−target) / ln(1−t'^r)⌉, and the first
    (i.e. largest) r whose r·b fits :data:`LSH_MAX_K` wins. Since P is
    monotone increasing in J, meeting the target at the threshold
    meets it for EVERY qualifying pair. Falls back to the best-effort
    (1, LSH_MAX_K) banding when even r=1 cannot reach the target
    within the cap — :func:`lsh_collision_probability` gives the
    achieved probability (never a silent shortfall).

    Signature cost is k min-md5 aggregates per key — linear in k, so
    the contract's price is explicit: target 0.8 at t=0.3 needs k=36,
    0.95 needs k=64 (pytest-pinned), vs the midpoint default's 16."""
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0,1): {target_recall}")
    t = threshold_num / threshold_den
    if t >= 1.0:
        return 1, 1  # J=1 guarantee point: identical sets always collide
    best = None
    for r in range(LSH_MAX_K, 0, -1):
        p1 = t**r  # per-band collision probability at the threshold
        if 1.0 - p1 >= 1.0:
            continue  # p1 underflowed: no feasible band count at this r
        needed = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p1))
        if r * needed <= LSH_MAX_K:
            best = (r, needed)
            break
    if best is None:
        best = (1, LSH_MAX_K)  # best effort below the target
    r, b = best
    return r * b, b


def set_similarity_join_auto(
    sets: DataFrame,
    key_col: str,
    item_col: str,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Cost-routed set-similarity join — the round-6 probe's measured
    dense-regime Ω(U²) bound (SCALE.md setsim: 4× users → 16.04×
    qualifying pairs) encoded as an automatic handoff instead of a
    docstring a user has to read. Computes :func:`set_similarity_stats`
    once (one scalar aggregate) and routes through
    :func:`choose_set_similarity_path`:

    - sparse regime → the exact :func:`set_similarity_join`, its
      single-join vs prefix path chosen by :func:`choose_exact_path`
      from the same stats — output EQUAL to the exact join by
      construction;
    - dense regime (candidate bound > :data:`PAIRS_PER_KEY_BUDGET`
      partners/key over ≥ :data:`MIN_LSH_KEYS` keys) →
      :func:`set_similarity_join_lsh` over 16 hashes banded at the
      threshold's S-curve midpoint (:func:`choose_lsh_bands`) —
      sub-quadratic candidate generation, exact verification, output
      ⊆ the exact pair set, recall ~0.5 AT the threshold boundary by
      construction. A caller that needs a recall floor calls
      :func:`set_similarity_join_lsh` with :func:`choose_lsh_params`
      banding directly (``near_dup_pairs_t90``,
      ``user_covisit_lsh_t90``).

    The chosen path is recorded on the returned DataFrame's
    ``.__setsim_path__`` attribute (plan-pinning tests read it), and
    the routing decision — path, threshold, banding and the expected
    recall at the threshold — on ``.__setsim_meta__``."""
    num, den = _check_threshold(threshold_num, threshold_den)
    base = sets.select(F.col(key_col).alias("key"), F.col(item_col).alias("item"))
    stats = set_similarity_stats(base, "key", "item")
    path = choose_set_similarity_path(stats)
    t = num / den
    meta: dict = {"path": path, "threshold": t}
    if path == "lsh":
        k = 16
        bands = choose_lsh_bands(num, den, k)
        out = set_similarity_join_lsh(
            base, "key", "item", num, den, k=k, bands=bands
        )
        meta.update(
            k=k,
            bands=bands,
            rows_per_band=k // bands,
            # family-average per-pair candidate probability; monotone
            # increasing in J, so the threshold value is the FLOOR over
            # all qualifying pairs
            expected_recall_at_threshold=round(
                lsh_collision_probability(t, k, bands), 4
            ),
        )
    else:
        out = _exact_join(base, num, den, stats)
        meta.update(expected_recall_at_threshold=1.0)
    out.__setsim_path__ = path
    out.__setsim_meta__ = meta
    return out


def perturbed_replicas(
    emb: DataFrame, n: int, noise: float = 0.5, id_stride: int = 10_000_000
) -> DataFrame:
    """N×-replicated embedding corpus for recall-vs-scale evaluation:
    rep 0 is the original table verbatim; reps 1..n−1 get disjoint
    vec_id spaces and a deterministic md5-derived perturbation of
    ±noise/2 per dimension, scaled by the VECTOR'S OWN RMS component
    magnitude (no RNG state — same rows on every run and every
    engine). Identical copies would make recall trivially 1.0 (same
    vector ⟹ same sign bucket / same inverted list); an ABSOLUTE
    noise amplitude would silently change meaning with the corpus's
    normalization (on the unit-normalized test embeddings, rms
    component 0.125, an absolute ±0.15/dim buried the signal — the
    "replicas" sat at cos ≈ 0.82, indistinguishable from hard
    background, and every hash-based path scored ~0.2). Relative
    noise=0.5 lands replicas at cos ≈ 0.99 — genuine near-duplicates
    that still straddle hash planes with ~5%/dim sign-flip
    probability, which is the recall-decay mode size-adaptive
    bucketing must be measured against."""
    copies = emb.crossJoin(
        F.broadcast(
            emb.sparkSession.range(n).select(F.col("id").alias("rep"))
        )
    ).select(
        (F.col("vec_id") + F.col("rep") * id_stride).alias("vec_id"),
        "rep",
        *[c for c in emb.columns if c not in ("vec_id",)],
    )
    copies = copies.withColumn(
        "__rms",
        F.expr(
            "sqrt(aggregate(cast(embedding as array<double>), 0.0D, "
            "(acc, x) -> acc + x * x) / size(embedding))"
        ),
    )
    pert = F.expr(
        "transform(cast(embedding as array<double>), (x, j) -> "
        "CASE WHEN rep = 0 THEN x ELSE x + {s} * __rms * ("
        "conv(substring(md5(concat(cast(vec_id as string), ':', "
        "cast(j as string))), 1, 8), 16, 10) / 4294967296.0 - 0.5) END)".format(
            s=float(noise)
        )
    )
    return copies.withColumn("embedding", pert).drop("rep", "__rms")


def recall_against(bf: DataFrame, approx: DataFrame) -> float:
    """Recall of an approximate top-k result against the brute-force
    result: |pairs ∩| / |pairs_bf| over (query_id, vec_id). Both
    inputs are top-k tables — bounded (n_queries·k rows), so the
    collect is the scalar-read budget class."""
    b = {(r.query_id, r.vec_id) for r in bf.select("query_id", "vec_id").collect()}
    a = {
        (r.query_id, r.vec_id)
        for r in approx.select("query_id", "vec_id").collect()
    }
    return round(len(a & b) / max(1, len(b)), 4)


def choose_lsh_bands(
    threshold_num: int, threshold_den: int, k: int = 16
) -> int:
    """Pick the band count whose LSH S-curve midpoint best matches the
    caller's Jaccard threshold. With ``bands`` bands of ``r = k/bands``
    rows, a pair at similarity J becomes a candidate with
    P = 1 − (1 − J^r)^bands; the curve's midpoint sits near
    t* = (1/bands)^(1/r). A FIXED banding is silently mis-tuned away
    from its design point: 8×2 over k=16 centers at t* ≈ 0.35 — right
    for a 0.3 covisit threshold, but at a 0.8 near-dup threshold it
    floods candidates with J≈0.4 junk, while 4×4 (t* ≈ 0.71) or 2×8
    (t* ≈ 0.92) prune them structurally. Scans the divisors of k and
    returns the bands minimizing |t* − threshold|; ties break toward
    MORE bands (higher recall at equal distance — r ascends below, so
    bands descends and strict improvement keeps the first/larger
    bands on a tie)."""
    t = threshold_num / threshold_den
    best_bands, best_err = k, float("inf")
    for r in range(1, k + 1):
        if k % r:
            continue
        bands = k // r
        t_star = (1.0 / bands) ** (1.0 / r) if bands > 1 else 1.0
        err = abs(t_star - t)
        if err < best_err:
            best_bands, best_err = bands, err
    return best_bands
