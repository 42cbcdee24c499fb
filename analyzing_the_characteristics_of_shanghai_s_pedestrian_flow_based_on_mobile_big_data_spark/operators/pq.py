"""Product quantization (PQ) for the ANN serving path — native expr.

VERDICT r11 #1: at 100 TB of embeddings, storage and scan cost are
dominated by the vectors themselves. PQ splits each dim-d vector into
``m`` subvectors and replaces every subvector by the index of its
nearest entry in a per-subspace codebook — the vector becomes ``m``
small integers (m bytes at ksub≤256) instead of d·4/8 bytes, and
similarity is served by Asymmetric Distance Computation (ADC): the
query precomputes a lookup table of its dot products against every
codebook entry, and each candidate costs ``m`` table lookups + adds
instead of a d-wide float walk (Jégou, Douze, Schmid, *Product
Quantization for Nearest Neighbor Search*, TPAMI 2011).

Design choices, all Spark-first:

- **Codebooks are md5-stratified sample rows** sliced per subspace
  (:func:`pq_codebooks` — the ivf_centroid_rows pattern): fully
  deterministic and oracle-reproducible where per-subspace k-means
  would need m unrolled Lloyd chains in the twin. A production run
  can train sub-codebooks with the existing ``kmeans_fit`` over
  subvector projections and pass them in — every function here takes
  the codebooks as data.
- **Encoding is map-only over literal codebooks** (the _centroid_sims
  lesson: one F.expr SQL string, no py4j lambda storm, no join, no
  shuffle) — the corpus never moves to be quantized; cosine uses the
  PQ approximation of BOTH dot and candidate norm, so the served
  index needs only (vec_id, codes) — the reconstructed norm is a
  code-determined constant folded at encode time.
- **No residual encoding** (codes quantize the raw vector, not
  x − coarse_centroid): residuals couple codes to the coarse
  assignment (re-encoding on every recenter, m Lloyd chains per list
  in the twin), while raw codes keep index maintenance Θ(delta).
  Round 14 measured three residual constructions (sampled global,
  trained global and per-list Lloyd codebooks; SCALE_PROBE_r14
  pq_residual): on this cosine-metric unit-norm corpus none beat raw
  encoding's recall@3, and each lost to it at 32k rows.

Engine parity: every distance/dot is a 0.0-seeded sequential left
fold; the ADC sum folds subspaces in ascending-j order; codebook
norms are Python left-folds whose repr round-trips exactly (the
_centroid_sims precedent) — the DuckDB twin reproduces cos_r
bit-for-bit.

No counterpart in the reference — engine breadth for the similarity
stack (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array
from .similarity import _centroid_sims, ivf_centroid_rows


def pq_codebooks(
    emb: DataFrame, m: int = 8, ksub: int = 16, dim: int = 64
) -> list[list[list[float]]]:
    """Per-subspace codebooks from the ``ksub`` md5-stratified sample
    rows (deterministic, engine-portable, ingest-order-uncorrelated —
    the ivf_centroid_rows argument): ``codebooks[j][c]`` is code c's
    subvector in subspace j. ksub·dim doubles — dimension-table sized.
    ``dim`` must be divisible by ``m``; production ksub is 256 (one
    byte per code), tests use 16 so the twin's cross join stays
    small."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rows = ivf_centroid_rows(emb, ksub)  # ordered by (md5(vec_id), vec_id)
    if not rows:
        return []  # empty corpus: no codebook (callers emit empty results)
    return [
        [list(vec[j * dsub : (j + 1) * dsub]) for _vid, vec in rows]
        for j in range(m)
    ]


def pq_codebooks_trained(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    iterations: int = 2,
) -> list[list[list[float]]]:
    """TRAINED per-subspace codebooks (round 13, VERDICT r12 #5): one
    :func:`~..operators.kmeans.kmeans_fit` Lloyd chain per subspace
    over the subvector slices — the standard PQ training loop, where
    the md5-stratified sample of :func:`pq_codebooks` is the
    train-free baseline. Code c in subspace j is the c-th centroid in
    ascending cluster-label order (labels are the seed ids — the ksub
    smallest vec_ids — so the ordering is deterministic and the
    DuckDB twin reproduces it with ORDER BY cluster). Every function
    downstream (encode, ADC, refine, scheme stamps) takes codebooks
    as data, so the trained books drop in unchanged. Measured on the
    perturbed-replica corpus (SCALE_PROBE_r13 pq_trained family):
    training's lift shows at the CHEAP shortlist — refined recall at
    R<16 — while at R=16 both codebooks already refine to 1.0."""
    from ..functions.vectors import as_double_array
    from .kmeans import kmeans_fit

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    base = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("vec")
    ).localCheckpoint(eager=False)
    books = []
    for j in range(m):
        sub = base.select(
            "vec_id", F.slice("vec", j * dsub + 1, dsub).alias("vec")
        )
        cents, _ = kmeans_fit(sub, k=ksub, iterations=iterations)
        if not cents:
            return []  # empty corpus: no codebook (pq_codebooks contract)
        books.append([[float(x) for x in v] for _c, v in sorted(cents.items())])
    return books


def _sub_sq_dist_sql(col: str, off: int, sub: list[float]) -> str:
    """Squared L2 distance of ``col``'s slice [off+1, off+dsub] to a
    literal subvector — kmeans.py:_sq_dist_sql with a slice."""
    arr = "array(" + ", ".join(f"{float(v)!r}D" for v in sub) + ")"
    return (
        f"aggregate(zip_with(slice({col}, {off + 1}, {len(sub)}), {arr}, "
        "(x, c) -> (x - c) * (x - c)), 0.0D, (acc, t) -> acc + t)"
    )


def pq_code_expr(col: str, codebooks: list[list[list[float]]]):
    """codes array<int> of length m: per subspace, the argmin-distance
    code (ties to the smaller code id via lexicographic struct min).
    One parsed SQL expression; map-only."""
    parts = []
    off = 0
    for j, cb in enumerate(codebooks):
        del j
        structs = ", ".join(
            f"named_struct('d', {_sub_sq_dist_sql(col, off, sub)}, 'c', {c})"
            for c, sub in enumerate(cb)
        )
        parts.append(f"int(array_min(array({structs})).c)")
        off += len(cb[0])
    return F.expr("array(" + ", ".join(parts) + ")")


def _py_sq_norm(vec: list[float]) -> float:
    acc = 0.0
    for v in vec:
        acc += v * v
    return acc


def pq_norm_expr(codes_col: str, codebooks: list[list[list[float]]]):
    """Reconstructed vector norm from codes alone: sqrt of the
    ascending-j fold of the literal per-(subspace, code) squared-norm
    table — a code-determined constant, so the served index never
    stores (or rescans) the float vector to normalize cosines."""
    m = len(codebooks)
    ntab = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(f"{_py_sq_norm(sub)!r}D" for sub in cb)
            + ")"
            for cb in codebooks
        )
        + ")"
    )
    return F.expr(
        f"sqrt(aggregate(transform(sequence(0, {m - 1}), j -> "
        f"element_at(element_at({ntab}, j + 1), "
        f"element_at({codes_col}, j + 1) + 1)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def pq_encode(
    emb: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Corpus → (vec_id, codes array<int>, anorm double): THE PQ index
    rows. Map-only over literal codebooks — at 100 TB this is one
    streamed scan, and the materialized index is ~m bytes + 8 B per
    vector instead of dim·4 (measured in SCALE.md r12)."""
    c = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("c_emb")
    )
    return c.select(
        "vec_id", pq_code_expr("c_emb", codebooks).alias("codes")
    ).withColumn("anorm", pq_norm_expr("codes", codebooks))


def pq_encode_arrow(
    emb: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Production-width PQ encode (round 13, VERDICT r12 #2): the same
    (vec_id, codes, anorm) index rows as :func:`pq_encode`, produced by
    an Arrow-batched numpy kernel instead of the interpreted Catalyst
    argmin tree — the tree is O(ksub) expression NODES, so at the
    one-byte-code width (ksub=256) its interpretation overhead is
    ~12 ms/row, three orders above the 16k FLOPs it performs
    (SCALE.md r12 §1). This is the second justified executor-Python
    escape after the multimodal codecs, and it is **bit-exact with the
    native path**, so it stays under the value-hash oracle gate rather
    than a weaker recall pin: generic BLAS reductions would reassociate
    the sums (pairwise summation), so every fold here is an explicit
    ascending-index accumulate in float64 —

    - sub-distance: ``acc = acc + (x_i − c_i)²`` looped i ascending,
      0.0-seeded, matching the native ``aggregate(zip_with(...))``
      left fold term for term;
    - argmin ties: ``np.argmin`` returns the FIRST minimum — the
      native lexicographic ``(d, c)`` struct-min tie-to-smaller-code;
    - anorm: the same :func:`_py_sq_norm` per-(subspace, code) table
      the native literal embeds, folded j-ascending, then ``sqrt``.

    Batch cost is ksub·dim vectorized mul-adds per row (~µs/row at
    ksub=256 — measured in the ``pq_encode`` SCALE_PROBE family);
    the corpus still never shuffles (mapInPandas is map-only)."""
    import pandas as pd  # noqa: F401 — worker-side import check

    if not codebooks or not codebooks[0]:
        # empty corpus ⟹ no codebook (the _empty_topk guard class):
        # contract-schema empty index
        return emb.select(
            "vec_id",
            F.array().cast("array<int>").alias("codes"),
            F.lit(0.0).alias("anorm"),
        ).filter(F.lit(False))
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    ntab = [[_py_sq_norm(sub) for sub in cb] for cb in codebooks]
    vid_type = emb.schema["vec_id"].dataType.simpleString()
    src = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("c_emb")
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
        nt = np.asarray(ntab, dtype=np.float64)  # (m, ksub)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["c_emb"]]
            )  # (N, m*dsub)
            n = x.shape[0]
            codes = np.empty((n, m), dtype=np.int64)
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                acc = np.zeros((n, ksub), dtype=np.float64)
                for i in range(dsub):  # ascending fold — bit-exact
                    d = xs[:, i][:, None] - cb[j, :, i][None, :]
                    acc = acc + d * d
                codes[:, j] = np.argmin(acc, axis=1)
            nsq = np.zeros(n, dtype=np.float64)
            for j in range(m):  # ascending-j fold — bit-exact
                nsq = nsq + nt[j, codes[:, j]]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": list(codes.astype("int32")),
                    "anorm": np.sqrt(nsq),
                }
            )

    return src.mapInPandas(
        encode, f"vec_id {vid_type}, codes array<int>, anorm double"
    )


def adc_lut_expr(q_col: str, codebooks: list[list[list[float]]]):
    """Flat m·ksub ADC lookup table for a query row: entry
    j·ksub + c = dot(sub_j(q), codebooks[j][c]) — computed ONCE per
    query (the broadcast-tiny side), so each candidate pair costs m
    lookups instead of a dim-wide walk."""
    entries = []
    off = 0
    for cb in codebooks:
        dsub = len(cb[0])
        for sub in cb:
            arr = "array(" + ", ".join(f"{float(v)!r}D" for v in sub) + ")"
            entries.append(
                f"aggregate(zip_with(slice({q_col}, {off + 1}, {dsub}), "
                f"{arr}, (x, y) -> x * y), 0.0D, (acc, t) -> acc + t)"
            )
        off += dsub
    return F.expr("array(" + ", ".join(entries) + ")")


def _adc_cos_expr(ksub: int, m: int):
    """round-6 ADC cosine of a (lut, q_norm) query row against a
    (codes, anorm) candidate row."""
    adc = (
        f"aggregate(transform(sequence(0, {m - 1}), j -> "
        f"element_at(lut, j * {ksub} + element_at(codes, j + 1) + 1)), "
        "0.0D, (acc, x) -> acc + x)"
    )
    return F.expr(f"round(({adc}) / (q_norm * anorm), 6)")


def _q_side(queries: DataFrame, codebooks) -> DataFrame:
    return queries.select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("q_emb"),
    ).select(
        "query_id",
        adc_lut_expr("q_emb", codebooks).alias("lut"),
        F.expr(
            "sqrt(aggregate(q_emb, 0.0D, (acc, x) -> acc + x * x))"
        ).alias("q_norm"),
    )


def _pq_ranked(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_r", "rank")
    )


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    codebooks: list[list[list[float]]] | None = None,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Brute-force ADC top-k: every corpus vector encoded
    (:func:`pq_encode`) and scored from its m codes against the
    broadcast query LUTs — the PQ baseline the IVF composition prunes.
    The corpus side never shuffles (scan → broadcast probe → rank≤k
    window)."""
    if codebooks is None:
        codebooks = pq_codebooks(emb, m, ksub, dim)
    if not codebooks:
        # empty corpus → no codebook; contract-schema empty result
        # (an untyped empty literal array cannot be analyzed — the
        # ivf_topk guard pattern)
        return _empty_topk(emb)
    ksub = len(codebooks[0])
    pairs = (
        pq_encode(emb, codebooks).crossJoin(F.broadcast(_q_side(queries, codebooks)))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_r", _adc_cos_expr(ksub, len(codebooks)))
    )
    return _pq_ranked(pairs, k)


def pq_scheme(coarse: list, codebooks: list[list[list[float]]]) -> dict:
    """The canonical scheme stamp for a maintained IVF-PQ index
    (round 12): BOTH quantizers pin it — the coarse codebook (cluster
    ids comparable only under one centroid set) and the per-subspace
    PQ codebooks (codes are indices INTO a codebook; re-trained
    sub-codebooks silently re-mean every code). Digests are md5 over
    repr-exact coordinate renderings, so any retrain refuses even at
    equal shapes (the ivf_codebook_scheme form)."""
    import hashlib

    from .similarity import ivf_codebook_scheme

    coarse_s = ivf_codebook_scheme(coarse)
    parts = "|".join(
        f"{j}:{c}:" + ",".join(repr(float(v)) for v in sub)
        for j, cb in enumerate(codebooks)
        for c, sub in enumerate(cb)
    )
    return {
        "kind": "ivf_pq",
        "k_coarse": coarse_s["k"],
        "coarse_digest": coarse_s["digest"],
        "m": len(codebooks),
        "ksub": len(codebooks[0]) if codebooks else 0,
        "pq_digest": hashlib.md5(parts.encode()).hexdigest(),
    }


def _require_pq_scheme(
    scheme: dict, coarse: list, codebooks: list[list[list[float]]]
) -> None:
    """Per-known-field comparison (the _require_band_scheme form)."""
    expected = pq_scheme(coarse, codebooks)
    mism = []
    for field in (
        "kind", "k_coarse", "coarse_digest", "m", "ksub", "pq_digest"
    ):
        got = scheme.get(field)
        want = expected[field]
        if field in ("k_coarse", "m", "ksub"):
            try:
                got = int(got)
            except (TypeError, ValueError):
                pass
        if got != want:
            mism.append(f"{field}: stamp {scheme.get(field)!r}, caller {want!r}")
    if mism:
        raise ValueError(
            f"IVF-PQ scheme mismatch ({'; '.join(mism)}) — codes and "
            "cluster ids are only meaningful under the quantizers the "
            "index was encoded with; serve with the index's own "
            "codebooks (see its _scheme.json stamp) or rebuild after "
            "a retrain"
        )


def _empty_topk(emb: DataFrame) -> DataFrame:
    """Contract-schema empty top-k result for empty-corpus guards."""
    return emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec_id"),
        F.lit(0.0).alias("cos_r"),
        F.lit(1).cast("int").alias("rank"),
    ).filter(F.lit(False))


def pq_refine(
    emb: DataFrame,
    shortlist: DataFrame,
    queries: DataFrame,
    k: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Exact rerank of an ADC shortlist — the refine stage every
    production IVF-PQ deployment runs (FAISS's IVFPQR shape): the
    codes-only scan produces a top-R candidate list per query, and
    only those R·n_queries rows fetch their float vectors (an equi
    join on vec_id — point lookups against the flat store, never a
    second corpus scan) for the exact cosine that decides the final
    top-k. Measured on the perturbed-replica corpus: raw ADC@3
    recall 0.27, refined R=16 recall 1.00 — ADC is a sufficient
    FILTER long before it is a sufficient RANKER, which is exactly
    the division of labor PQ is built for."""
    from .similarity import _cos

    e = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("c_emb")
    )
    qe = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("q_emb"),
    )
    pairs = (
        shortlist.select("query_id", "vec_id")
        .join(e, "vec_id")
        .join(F.broadcast(qe), "query_id")
        .withColumn(
            "cos_r", F.round(_cos(dim)(F.col("q_emb"), F.col("c_emb")), 6)
        )
    )
    return _pq_ranked(pairs, k)


def ivf_pq_topk_refined(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    r: int = 16,
    n_centroids: int = 16,
    nprobe: int = 4,
    codebooks: list[list[list[float]]] | None = None,
    coarse: list | None = None,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    indexed: DataFrame | None = None,
    scheme: dict | None = None,
) -> DataFrame:
    """THE production IVF-PQ serving query (VERDICT r12 #1): IVF probe
    → codes-only ADC top-``r`` shortlist → exact rerank of the fetched
    r·n_queries float rows → top-``k``. Raw ADC is a sufficient FILTER
    long before it is a sufficient RANKER — the builder's own probe
    shows raw-ADC recall@3 decaying 1.0 → 0.4 from 8k to 32k rows
    while the refined path holds 1.00 at every probed scale
    (SCALE_PROBE_r12/r13.jsonl) — so the corpus-wide scan stays
    m-bytes-per-row and only the shortlist pays the dim-wide float
    walk: r·n_queries point lookups against the flat store, never a
    second corpus scan. :func:`ivf_pq_topk` stays registered as the
    codes-only filter stage; serve from THIS."""
    shortlist = ivf_pq_topk(
        emb,
        queries,
        k=r,
        n_centroids=n_centroids,
        nprobe=nprobe,
        codebooks=codebooks,
        coarse=coarse,
        m=m,
        ksub=ksub,
        dim=dim,
        indexed=indexed,
        scheme=scheme,
    )
    return pq_refine(emb, shortlist, queries, k=k, dim=dim)


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    codebooks: list[list[list[float]]] | None = None,
    coarse: list | None = None,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    indexed: DataFrame | None = None,
    scheme: dict | None = None,
) -> DataFrame:
    """IVF-PQ codes-only stage — the FILTER, not the serving ranker:
    raw-ADC rank recall decays with corpus size (1.0 @8k rows → 0.4
    @32k, SCALE_PROBE_r12.jsonl), so production serving is
    :func:`ivf_pq_topk_refined` (this shortlist + exact rerank);
    call this directly only when the ADC order itself is the product
    (e.g. a pre-filter feeding a downstream exact stage you own).

    Inverted lists prune WHICH candidates are scored
    (ivf_topk's coarse quantizer — map-only assignment over literal
    centroids, broadcast probe join), PQ codes make scoring each
    candidate m lookups over an m-byte row. The serving index is
    (vec_id, centroid_id, codes, anorm) — ~(m + 16) bytes/vector vs
    dim·4 flat, the ~dim·4/m storage/scan contraction measured in
    SCALE.md r12; recall vs brute force pinned in
    tests/test_similarity.py. Pass ``indexed`` (a materialized
    assignment+encode table) to serve a prebuilt index; ``coarse``
    and ``codebooks`` are the two codebook artifacts, both
    dimension-table sized. When serving a MAINTAINED index
    (streaming/incremental.py:pq_index_table), pass its
    ``_scheme.json`` via ``scheme=`` — codes and cluster ids are only
    meaningful under the quantizers the index was encoded with, so a
    retrained codebook refuses scan-lessly (:func:`_require_pq_scheme`)
    instead of ADC silently scoring against the wrong sub-means."""
    from .similarity import ivf_assign

    if coarse is None:
        coarse = ivf_centroid_rows(emb, n_centroids)
    if codebooks is None:
        codebooks = pq_codebooks(emb, m, ksub, dim)
    if not coarse or not codebooks:
        return _empty_topk(emb)
    if scheme is not None:
        _require_pq_scheme(scheme, coarse, codebooks)
    ksub = len(codebooks[0])
    if indexed is None:
        assigned = ivf_assign(emb, coarse, dim)
        indexed = assigned.select(
            "vec_id",
            "centroid_id",
            pq_code_expr("c_emb", codebooks).alias("codes"),
        ).withColumn("anorm", pq_norm_expr("codes", codebooks))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("q_emb"),
    )
    probes = (
        q.withColumn(
            "probe_list",
            F.slice(
                F.reverse(F.array_sort(_centroid_sims("q_emb", coarse, dim))),
                1,
                nprobe,
            ),
        )
        .withColumn("probe", F.explode("probe_list"))
        .select(
            "query_id",
            (-F.col("probe.negid")).cast("long").alias("centroid_id"),
            adc_lut_expr("q_emb", codebooks).alias("lut"),
            F.expr(
                "sqrt(aggregate(q_emb, 0.0D, (acc, x) -> acc + x * x))"
            ).alias("q_norm"),
        )
    )
    pairs = (
        indexed.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_r", _adc_cos_expr(ksub, len(codebooks)))
    )
    return _pq_ranked(pairs, k)


# Scalar quantization (SQ8) — round 14 -----------------------------------
#
# The middle point of the bytes-vs-recall curve FAISS ships as
# IndexScalarQuantizer: one byte per DIMENSION (dim bytes/vector ≈
# 8× smaller than float64, 4× than float32) against PQ's one byte per
# SUBSPACE (m bytes) and the flat float index. Per-dim affine codes
# lose far less geometry than PQ's codebook projection, so SQ8 serves
# near-exact recall where raw PQ decays — at dim/m × the bytes.
#
# Engine parity: training is a per-dimension MIN/MAX aggregate
# (bounded: dim rows); encoding is floor-form affine rounding to
# 0..255 (clamped; degenerate max==min dims encode 0); the serving
# cosine folds dequantized values min_i + c_i·s_i in ascending-dim
# order with literal mins/scales — every step +,*,/ and floor, so the
# DuckDB twin is bit-exact.


def _arr_sql(vec: list[float]) -> str:
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vec) + ")"


def sq8_train(emb: DataFrame, dim: int = 64) -> tuple[list[float], list[float]]:
    """(mins, scales) per dimension: one bounded posexplode aggregate
    (dim rows collect like a codebook). scales[i] =
    (max_i − min_i) / 255.0; a constant dimension scales 0.0."""
    rows = (
        emb.select(
            F.posexplode(as_double_array(F.col("embedding"))).alias(
                "d", "x"
            )
        )
        .groupBy("d")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    mins = [0.0] * dim
    scales = [0.0] * dim
    for r in rows:
        mins[int(r.d)] = float(r.lo)
        scales[int(r.d)] = (float(r.hi) - float(r.lo)) / 255.0
    return mins, scales


def sq8_code_expr(col: str, mins: list[float], scales: list[float]):
    """codes array<int> (0..255 per dimension): floor-form affine
    rounding, clamped, constant dims → 0. One parsed SQL expression,
    map-only."""
    mlit = _arr_sql(mins)
    slit = _arr_sql(scales)
    return F.expr(
        f"zip_with({col}, zip_with({mlit}, {slit}, "
        "(mn, sc) -> named_struct('mn', mn, 'sc', sc)), "
        "(x, p) -> CASE WHEN p.sc = 0.0D THEN 0 ELSE "
        "int(least(255.0D, greatest(0.0D, "
        "floor((x - p.mn) / p.sc + 0.5D)))) END)"
    )


def sq8_norm_expr(codes_col: str, mins: list[float], scales: list[float]):
    """Dequantized-vector norm from codes alone (ascending-dim fold
    over literal mins/scales) — the pq_norm_expr contract at SQ
    grain."""
    mlit = _arr_sql(mins)
    slit = _arr_sql(scales)
    return F.expr(
        f"sqrt(aggregate(zip_with({codes_col}, zip_with({mlit}, {slit}, "
        "(mn, sc) -> named_struct('mn', mn, 'sc', sc)), "
        "(c, p) -> (p.mn + CAST(c AS DOUBLE) * p.sc) "
        "* (p.mn + CAST(c AS DOUBLE) * p.sc)), "
        "0.0D, (acc, t) -> acc + t))"
    )


def sq8_encode(
    emb: DataFrame, mins: list[float], scales: list[float]
) -> DataFrame:
    """Corpus → (vec_id, codes, anorm): the SQ8 index rows — dim bytes
    of codes + the code-determined norm; the float vector never enters
    the served table."""
    e = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("c_emb")
    )
    return e.select(
        "vec_id", sq8_code_expr("c_emb", mins, scales).alias("codes")
    ).withColumn("anorm", sq8_norm_expr("codes", mins, scales))


def sq8_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    mins: list[float] | None = None,
    scales: list[float] | None = None,
    dim: int = 64,
    indexed: DataFrame | None = None,
) -> DataFrame:
    """Brute-force cosine top-k served from SQ8 codes: each candidate
    pays one ascending-dim dequantize-and-dot fold against the
    broadcast query row — the cosine_topk plan shape at 1/8 the scan
    bytes. dot(q, x̂) folds q_i·(min_i + c_i·s_i) in dimension order;
    the twin restates the identical fold.

    Measured position on the bytes-vs-recall curve (SCALE_PROBE_r14
    pq family, perturbed-replica corpus): recall@3 1.0 at 8k rows and
    0.67 at 32k at 3.6× compression, vs raw-PQ ADC's 0.4 at 28× — the
    SQ tier holds rank where PQ codes blur, but on a corpus whose
    top-3 separations approach the quantization step it too wants the
    generic refine stage (pq_refine accepts any shortlist) for exact
    serving."""
    if mins is None or scales is None:
        mins, scales = sq8_train(emb, dim)
    if indexed is None:
        indexed = sq8_encode(emb, mins, scales)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("q_emb"),
    ).select(
        "query_id",
        "q_emb",
        F.expr(
            "sqrt(aggregate(q_emb, 0.0D, (acc, x) -> acc + x * x))"
        ).alias("q_norm"),
    )
    mlit = _arr_sql(mins)
    slit = _arr_sql(scales)
    dot = (
        f"aggregate(zip_with(codes, zip_with(q_emb, zip_with({mlit}, "
        f"{slit}, (mn, sc) -> named_struct('mn', mn, 'sc', sc)), "
        "(qx, p) -> named_struct('qx', qx, 'mn', p.mn, 'sc', p.sc)), "
        "(c, t) -> t.qx * (t.mn + CAST(c AS DOUBLE) * t.sc)), "
        "0.0D, (acc, t) -> acc + t)"
    )
    pairs = (
        indexed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cos_r", F.expr(f"round(({dot}) / (q_norm * anorm), 6)")
        )
    )
    return _pq_ranked(pairs, k)
