"""Hashed-n-gram linear quality scorer (fastText shape) — native expr.

The standard curation stage AFTER the heuristic floors (VERDICT r11
#3): a linear classifier over hashed unigram+bigram features, scored
as the mean of a weight vector's entries at each feature's hash
bucket, plus a bias — exactly the shape a trained fastText /
logistic-regression quality model reduces to at inference time. The
caller supplies the weight vector (a production run loads its trained
model's weights; :func:`demo_weights` provides a deterministic
stand-in for oracle-paired demos).

Scale shape: map-only — one fold over the token array per document,
entirely inside whole-stage codegen; the weight vector is a LITERAL
array in the plan (the _centroid_sims pattern — a broadcast without
an exchange), so scoring 100 TB is a streamed scan with zero
shuffles and zero Python.

Engine parity: the bucket hash is the repo-standard first-8-hex of
md5 (functions/sampling.py:hash_fraction), the score is a 0.0-seeded
sequential left fold over features in document order, and rounding
uses the floor form (multiply+add+floor+divide — kmeans.py's lesson:
library round() can disagree across engines within an ulp of a half
boundary), so the DuckDB twin reproduces the margin bit-for-bit.

No counterpart in the reference — engine breadth for the curation
stack (SURVEY.md §2 extensions).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens


def feature_bucket(feat: Column, n_buckets: int, salt: str = "qs") -> Column:
    """Hash bucket of one feature string: first-8-hex md5 → uint32 →
    mod ``n_buckets``. Salted so independent scorers on the same
    corpus decorrelate (the sampling.py convention)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), feat)), 1, 8), 16, 10
    ).cast("long")
    return h % F.lit(int(n_buckets))


def demo_weights(n_buckets: int = 64, seed: str = "qw") -> list[float]:
    """Deterministic pseudo-random weight vector in [-0.5, 0.5): bucket
    i's weight is md5-derived from (seed, i), rounded to 6 dp so the
    decimal literal round-trips to the identical binary64 in both
    engines. A stand-in for trained model weights — no RNG state, so
    every run and every engine sees the same classifier."""
    return [
        round(
            int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16)
            / 2**32
            - 0.5,
            6,
        )
        for i in range(n_buckets)
    ]


def doc_features(toks: Column) -> Column:
    """Feature list of a token array: unigrams followed by space-joined
    bigrams, in document order (the order the score fold consumes).

    PASS A MATERIALIZED COLUMN (``F.col("toks")`` from a prior
    select), not the tokenizer expression: interpreted HOF lambdas
    re-evaluate child expressions PER ELEMENT, so an inline
    ``tokens(text)`` here re-splits the whole text once per token —
    measured 3.4 s → 0.9 s at sf0.1 for the feature stage alone
    (round 12). Bigrams use two O(1) ``element_at`` calls per
    position (identical strings to ``word_shingles(toks, 2)``'s
    slice+concat_ws, which allocates a 2-array per position)."""
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def bucket_weights(
    feats: Column, weights: list[float], salt: str = "qs"
) -> Column:
    """Per-feature weight values (array<double>, feature order): each
    feature md5-bucketed into the literal weight vector. THE expensive
    stage (one md5+conv per feature) — stage it as its own column so
    downstream consumers (the margin fold in both a filter predicate
    and the output projection) duplicate only the cheap sum fold, not
    the hashing: predicate pushdown substitutes aliases into filters,
    so whatever expression computes the margin is evaluated once per
    consuming operator."""
    n_buckets = len(weights)
    wlit = F.expr(
        "array(" + ", ".join(f"{float(w)!r}D" for w in weights) + ")"
    )
    return F.transform(
        feats,
        lambda t: F.element_at(
            wlit, (feature_bucket(t, n_buckets, salt) + 1).cast("int")
        ),
    )


def margin_from_weights(
    wvals: Column, bias: float = 0.0, n: Column | None = None
) -> Column:
    """Margin from a MATERIALIZED per-feature weight-value column: the
    0.0-seeded feature-order sum fold / count + bias, floor-rounded to
    6 dp; empty rows score ``bias``. Identical association order to
    the one-expression form, so the value is bit-identical.

    ``n`` (round 15, guide §1/§4 "don't compute things you throw
    away"): the feature COUNT as its own Column. When ``wvals`` is an
    inline :func:`bucket_weights` expression rather than a staged
    column, this Column tree references it THREE times (the empty
    guard, the divisor, the sum) and each reference re-runs the
    md5-per-feature transform — measured 3× the hashing cost of the
    whole scoring stage in the dsir_scores physical plan. ``transform``
    is 1:1, so ``size(bucket_weights(feats, …)) == size(feats)``
    element-for-element; passing ``n = F.size(feats)`` leaves exactly
    one reference to the expensive transform with bit-identical
    arithmetic (same integer count, same casts, same fold)."""
    wsum = F.aggregate(wvals, F.lit(0.0), lambda acc, w: acc + w)
    if n is None:
        n = F.size(wvals)
    raw = F.when(
        n > 0, wsum / n.cast("double") + F.lit(float(bias))
    ).otherwise(F.lit(float(bias)))
    return F.floor(raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def margin_from_features(
    feats: Column, weights: list[float], bias: float = 0.0, salt: str = "qs"
) -> Column:
    """Classifier margin from a MATERIALIZED feature-array column (see
    :func:`doc_features` on why staging matters inside HOF plans):
    mean over the features of the literal weight vector's bucket
    entries, plus ``bias``, floor-rounded to 6 dp; feature-less rows
    score ``bias``. One-expression composition of
    :func:`bucket_weights` ∘ :func:`margin_from_weights` — hot paths
    that both FILTER on and EMIT the margin should stage
    ``bucket_weights`` as a column first. The count comes from
    ``feats`` (1:1 transform), so the md5 transform appears once in
    the tree, not three times (see :func:`margin_from_weights`)."""
    return margin_from_weights(
        bucket_weights(feats, weights, salt), bias, n=F.size(feats)
    )


def linear_quality_margin(
    text: Column,
    weights: list[float],
    bias: float = 0.0,
    salt: str = "qs",
) -> Column:
    """Classifier margin of a document: mean over its hashed features
    of the literal weight vector's bucket entries, plus ``bias``,
    floor-rounded to 6 dp. Feature-less documents score ``bias``.
    ``keep = margin >= threshold`` is the downstream floor; emit the
    margin rather than a sigmoid — exp() is not bit-identical across
    engines' libm, the monotone margin carries the same decision.

    Convenience single-expression form (tokenizes inline — fine for
    small frames and tests); hot paths should stage token and feature
    COLUMNS and use :func:`margin_from_features`, which avoids the
    per-element re-evaluation of inline children inside HOF lambdas
    (see :func:`doc_features`)."""
    return margin_from_features(doc_features(tokens(text)), weights, bias, salt)


# Distributed training (round 14, VERDICT r13 #3) -----------------------
#
# The scorer above is inference-only; a real curation stack TRAINS its
# quality classifier. scorer_fit_ls fits the same mean-of-bucket-weights
# linear model by full-batch gradient descent on centered least squares —
# chosen over logistic IRLS because every step is +,*,/ and floor-form
# rounding (no exp/log, whose last ulp is not contractually identical
# across engines), so the ENTIRE training run is reproducible bit-for-bit
# by an unrolled DuckDB twin (the kmeans_oracle_ctes precedent) and the
# trained weights sit under the full value-hash oracle gate.
#
# Why centered: the raw bucket-fraction design matrix is dominated by the
# rank-one "average document" direction (every doc's fractions sum to 1),
# which makes plain GD crawl and Jacobi-preconditioned GD diverge
# (measured on the real corpus; see tests). Subtracting the per-bucket
# means μ removes that bulk direction; GD on (X−μ, y−ȳ) converges in
# single-digit epochs at a step size governed by the residual spectrum
# (η < 2n/σ₁²; the registered query pins η=4000, validated against the
# measured σ₁ at every shipped SF — doc-length distribution, and hence
# the bound, is SF-invariant in this corpus family).
#
# Scale shape, per epoch (the kmeans iteration template):
# - margins/residuals are MAP-ONLY over the checkpointed (y, k, cvec)
#   frame: current weights enter as a literal array, the per-doc score is
#   one ascending zip_with/aggregate fold — no join, no broadcast;
# - the gradient is ONE bounded aggregate: posexplode(cvec) → groupBy
#   bucket → DECIMAL sum of 12dp-floor-rounded addends (order-free ⇒
#   partitioning-independent), n_buckets rows per partition after
#   map-side combine;
# - driver state is the n_buckets weight vector — codebook-sized, the
#   same budget class as kmeans centroids / the charlm table.


def _flr(col: Column, scale: int) -> Column:
    """Floor-form rounding (multiply+add+floor+divide) — the engine-
    portable rounding used everywhere bit-parity matters (kmeans.py's
    lesson on library round())."""
    m = float(10**scale)
    return F.floor(col * F.lit(m) + F.lit(0.5)) / F.lit(m)


def _flr_py(x: float, scale: int) -> float:
    m = float(10**scale)
    return math.floor(x * m + 0.5) / m


def hashed_count_rows(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    salt: str = "qs",
) -> DataFrame:
    """Training frame: (id, y, k, cvec) per document with at least one
    feature — y the 0/1 label, k the feature count, cvec the DENSE
    n_buckets-wide bucket-count vector (int). Built once and
    checkpointed by the fit; every training epoch reuses the dense
    rows map-side.

    The ONE exchange here is a repartition of the RAW doc rows by id,
    up front: it clusters every downstream groupBy (doc-subset keys ⇒
    no further exchange — Spark's HashPartitioning(id) satisfies
    ClusteredDistribution for any key set containing id), so the
    doc×bucket count and the map re-group run exchange-free on rows
    k× wider than the input. Shuffling 3.4M exploded feature rows
    instead (the naive plan) costs ~60× the bytes at this corpus's
    ~680 features/doc — and locally it also unlocks parallelism for
    the md5 bucketize, which otherwise runs in the input file's 1-2
    splits (measured: 22 s → 2.5 s at sf0.1)."""
    toks_df = docs.repartition(F.col(id_col)).select(
        F.col(id_col), label.alias("y"), tokens(F.col(text_col)).alias("toks")
    )
    f = toks_df.select(
        id_col, "y", doc_features(F.col("toks")).alias("f")
    ).select(
        id_col,
        "y",
        F.size("f").alias("k"),
        F.transform(
            F.col("f"),
            lambda t: feature_bucket(t, n_buckets, salt).cast("int"),
        ).alias("bidx"),
    )
    # explode_OUTER, not explode, and no explicit k>0 filter: a plain
    # explode triggers InferFiltersFromGenerate, whose inferred
    # size(bidx)>0 predicate gets pushed below the repartition exchange
    # with the WHOLE tokenize→features→md5 chain substituted in —
    # re-evaluating the pipeline once per row just for the size check
    # (measured: 15 s vs 6 s for the full build at sf0.1). Zero-feature
    # docs surface as one null-bucket row instead and are dropped by
    # the cheap post-aggregate isNotNull filter on the materialized
    # bucket column.
    ex = (
        f.select(id_col, "y", "k", F.explode_outer("bidx").alias("b"))
        .groupBy(id_col, "y", "k", "b")
        .agg(F.count("*").cast("int").alias("c"))
        .filter(F.col("b").isNotNull())
    )
    cv = ex.groupBy(id_col, "y", "k").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m")
    )
    return cv.select(
        F.col(id_col).alias("doc_id") if id_col != "doc_id" else F.col(id_col),
        "y",
        "k",
        F.transform(
            F.sequence(F.lit(0), F.lit(int(n_buckets) - 1)),
            lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0)),
        ).alias("cvec"),
    )


def _wlit_sql(ws: list[float]) -> str:
    return "array(" + ", ".join(f"{float(w)!r}D" for w in ws) + ")"


def _score_fold_sql(cvec_col: str, ws: list[float]) -> str:
    """Σ_b cvec[b]·w[b] as ONE SQL string (the _sq_dist_sql lesson:
    Column-built HOFs cost py4j round trips per lambda × epochs):
    ascending zip_with product then 0.0-seeded sequential fold —
    the exact association order of the DuckDB twin's list_reduce."""
    return (
        f"aggregate(zip_with({cvec_col}, {_wlit_sql(ws)}, "
        "(c, w) -> CAST(c AS DOUBLE) * w), 0.0D, (acc, t) -> acc + t)"
    )


#: Fit precision: every DECIMAL sum adds ADDEND_SCALE-dp floor-rounded
#: addends, and μ, the weights and the bias are floor-rounded at
#: ROUND_SCALE dp. The DuckDB twins of both fits read these constants.
ROUND_SCALE = 9
ADDEND_SCALE = 12
_DEC = f"decimal(38,{ADDEND_SCALE})"


def _dot(mu: list[float], w: list[float]) -> float:
    """μ·w as an ascending 0.0-seeded fold (the twins' list_reduce)."""
    acc = 0.0
    for m, x in zip(mu, w):
        acc = acc + m * x
    return acc


def _bucket_sums(
    frame: DataFrame, weight: Column, n_buckets: int
) -> list[float]:
    """Σᵢ dec₁₂(weightᵢ·c_ib/k_i) per bucket b — one bounded
    bucket-cell DECIMAL aggregate over ``frame``'s (k, cvec)."""
    out = [0.0] * n_buckets
    for row in (
        frame.select(
            weight.alias("__u"), "k", F.posexplode("cvec").alias("b", "c")
        )
        .select(
            "b",
            _flr(
                (F.col("__u") * F.col("c").cast("double"))
                / F.col("k").cast("double"),
                ADDEND_SCALE,
            ).alias("a"),
        )
        .groupBy("b")
        .agg(F.sum(F.col("a").cast(_DEC)).alias("s"))
        .collect()
    ):
        out[int(row.b)] = float(row.s)
    return out


def _centered_means(cv: DataFrame, n: int, n_buckets: int) -> list[float]:
    """The one-time centering pass shared by both fits:
    μ_b = flr₉(Σᵢ dec₁₂(c_ib/k_i) / n)."""
    return [
        _flr_py(s / n, ROUND_SCALE)
        for s in _bucket_sums(cv, F.lit(1.0), n_buckets)
    ]


def _epoch_sums(
    cv: DataFrame, resid: Column, n_buckets: int
) -> tuple[float, list[float]]:
    """One GD epoch's aggregates for a per-doc residual ``resid``:
    T = Σᵢ dec₁₂(r_i) and S_b = Σᵢ dec₁₂(r_i·c_ib/k_i). The two fits
    differ only in ``resid`` and in the update step they take."""
    marg = cv.select("k", "cvec", resid.alias("r"))
    t_val = float(
        marg.agg(F.sum(_flr(F.col("r"), ADDEND_SCALE).cast(_DEC))).first()[0]
        or 0
    )
    return t_val, _bucket_sums(marg, F.col("r"), n_buckets)


def scorer_fit_ls(
    cv: DataFrame,
    n_buckets: int = 256,
    epochs: int = 8,
    eta: float = 4000.0,
) -> tuple[list[float], float]:
    """Fit (weights, bias) on a :func:`hashed_count_rows` frame by
    ``epochs`` full-batch GD steps on centered least squares:

        μ_b  = flr₉(Σᵢ dec₁₂(c_ib/k_i) / n)        (one-time pass)
        r_i  = (y_i − ȳ) − (Σ_b c_ib·w_b / k_i − μ·w)
        S_b  = Σᵢ dec₁₂((r_i·c_ib)/k_i);  T = Σᵢ dec₁₂(r_i)
        w_b ← flr₉(w_b + η·((S_b − μ_b·T)/n))
        bias = flr₉(ȳ − μ·w_final)

    Every sum is a DECIMAL sum of floor-rounded addends (order-free),
    every fold is ascending, every rounding is floor-form — the DuckDB
    twin reproduces the weights bit-for-bit. Prediction is
    ``score/k + bias`` (:func:`scorer_predict`), the exact shape
    :func:`margin_from_weights` serves."""
    cv = cv.localCheckpoint(eager=False)
    n = cv.count()
    if n == 0:
        return [0.0] * n_buckets, 0.0
    npos = cv.agg(F.sum("y")).first()[0] or 0
    ybar = float(npos) / float(n)
    mu = _centered_means(cv, n, n_buckets)
    w = [0.0] * n_buckets
    for _ in range(int(epochs)):
        s_over_k = F.expr(_score_fold_sql("cvec", w)) / F.col("k").cast(
            "double"
        )
        resid = (F.col("y").cast("double") - F.lit(ybar)) - (
            s_over_k - F.lit(_dot(mu, w))
        )
        t_val, s_vec = _epoch_sums(cv, resid, n_buckets)
        w = [
            _flr_py(w[b] + eta * ((s_vec[b] - mu[b] * t_val) / n), ROUND_SCALE)
            for b in range(n_buckets)
        ]
    return w, _flr_py(ybar - _dot(mu, w), ROUND_SCALE)


def scorer_predict(
    cv: DataFrame, weights: list[float], bias: float
) -> DataFrame:
    """Score a :func:`hashed_count_rows` frame under trained weights:
    (doc_id, y, pred, keep) with pred = flr₆(Σ c·w/k + bias) — map-only
    (literal weight array), keep = pred ≥ 0.5."""
    pred = _flr(
        F.expr(_score_fold_sql("cvec", weights))
        / F.col("k").cast("double")
        + F.lit(float(bias)),
        6,
    )
    return cv.select(
        "doc_id",
        "y",
        pred.alias("pred"),
        (pred >= 0.5).alias("keep"),
    )


# Calibrated sigmoid-link fit (round 15, VERDICT r14 #5) -----------------
#
# scorer_fit_ls emits an uncalibrated margin; production quality gates
# threshold a PROBABILITY. The classic obstruction to a bit-exact
# logistic twin is exp(): libm's last ulp is not contractually
# identical across engines. This fit removes the obstruction instead
# of giving up on it — the link is the ALGEBRAIC sigmoid
#
#     σ̃(z) = 0.5 + 0.5·z/(1 + |z|)        σ̃′(z) = 0.5/(1 + |z|)²
#
# (the "fast sigmoid": same shape, range (0,1), σ̃(0)=0.5, monotone),
# built from +, −, ×, ÷, abs only — every one an IEEE-754-exact
# operation on identical inputs, so the full-batch GD loop on MSE over
# probabilities unrolls into DuckDB CTEs bit-for-bit exactly like the
# least-squares fit. Same centered design (the μ-subtraction that
# fixes the rank-one bulk direction), same per-epoch cost: one
# map-only gradient pass + one bounded bucket-cell DECIMAL aggregate;
# the bias is trained jointly (intercept gradient = mean residual
# derivative) rather than derived from centering.


def sig_alg(z: Column) -> Column:
    """The algebraic sigmoid surrogate σ̃(z) = 0.5 + 0.5·z/(1+|z|) —
    (0,1)-valued, engine-portable to the bit (no transcendentals)."""
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))


def scorer_fit_sig(
    cv: DataFrame,
    n_buckets: int = 256,
    epochs: int = 8,
    eta: float = 16000.0,
    eta_bias: float = 4.0,
) -> tuple[list[float], float]:
    """Fit (weights, serving_bias) on a :func:`hashed_count_rows`
    frame by ``epochs`` full-batch GD steps on MSE over σ̃-link
    probabilities:

        z_i  = Σ_b c_ib·w_b / k_i − μ·w + b₀
        g_i  = (σ̃(z_i) − y_i) · σ̃′(z_i)
        S_b  = Σᵢ dec₁₂(g_i·c_ib/k_i);  T = Σᵢ dec₁₂(g_i)
        w_b ← flr₉(w_b − η·S_b/n);  b₀ ← flr₉(b₀ − η_b·T/n)

    The intercept takes its OWN step size η_b: its implicit feature
    is 1.0 where the centered bucket fractions are O(1/n_buckets), so
    a shared η that moves the weights also slingshots the bias
    (measured: b₀ → −655 in one epoch at η=8000); curvature in the
    intercept direction is mean σ̃′² ≈ 1/16..1/4, putting the stable
    ceiling near η_b < 8.

    serving_bias = flr₉(b₀ − μ·w_final), so serving is the SAME
    map-only fold scorer_predict uses, with the prediction passed
    through σ̃ (:func:`scorer_predict_sig`). Every sum is a DECIMAL
    sum of floor-rounded addends, every per-doc score an ascending
    fold, every op in σ̃/σ̃′ IEEE-exact — the DuckDB twin lands on
    bit-identical parameters. Default η is 4× the LS fit's: σ̃′ ≤ 1/2
    and the MSE-on-p residual halves again near p≈0.5, so the first-
    step gradient is ~¼ of the least-squares one."""
    cv = cv.localCheckpoint(eager=False)
    n = cv.count()
    if n == 0:
        return [0.0] * n_buckets, 0.0
    mu = _centered_means(cv, n, n_buckets)
    w = [0.0] * n_buckets
    b0 = 0.0
    for _ in range(int(epochs)):
        z = (
            F.expr(_score_fold_sql("cvec", w)) / F.col("k").cast("double")
            - F.lit(_dot(mu, w))
            + F.lit(b0)
        )
        az = F.lit(1.0) + F.abs(z)
        g = (sig_alg(z) - F.col("y").cast("double")) * (
            F.lit(0.5) / (az * az)
        )
        t_val, s_vec = _epoch_sums(cv, g, n_buckets)
        w = [
            _flr_py(w[b] - eta * (s_vec[b] / n), ROUND_SCALE)
            for b in range(n_buckets)
        ]
        b0 = _flr_py(b0 - eta_bias * (t_val / n), ROUND_SCALE)
    return w, _flr_py(b0 - _dot(mu, w), ROUND_SCALE)


def scorer_predict_sig(
    cv: DataFrame, weights: list[float], bias: float
) -> DataFrame:
    """Calibrated scoring of a :func:`hashed_count_rows` frame:
    (doc_id, y, p, keep) with p = flr₆(σ̃(Σ c·w/k + bias)) ∈ (0,1)
    and keep = p ≥ 0.5 — map-only, literal weight array."""
    z = F.expr(_score_fold_sql("cvec", weights)) / F.col("k").cast(
        "double"
    ) + F.lit(float(bias))
    p = _flr(sig_alg(z), 6)
    return cv.select(
        "doc_id", "y", p.alias("p"), (p >= F.lit(0.5)).alias("keep")
    )
