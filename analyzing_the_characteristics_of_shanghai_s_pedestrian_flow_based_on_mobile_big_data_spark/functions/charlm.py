"""Corpus-trained character-trigram LM quality scoring — the CCNet
idea (Wenzek et al. 2020: score text by a language model trained on a
reference corpus; keep what scores typical) at engine grain.

Two passes, both Spark-shaped for 100 TB:

- **Train** (:func:`char_trigram_counts` → :func:`char_trigram_lm`):
  one streamed scan explodes each doc's character trigrams to an
  INTEGER index over a fixed 28-symbol alphabet ([a-z] → 1..26,
  space → 27, everything else → 0), so the aggregate key space is
  bounded at 28³ = 21,952 regardless of corpus size — the count
  table is dimension-sized by construction and collects to the
  driver like a codebook.
- **Score** (:func:`charlm_score_expr`): the smoothed probability
  table becomes ONE constant-folded literal array indexed by the
  same trigram index — each position is an O(1) ``element_at``, the
  whole score a map-side ascending fold; no join, no shuffle, no
  per-row map scan (a literal ``create_map`` lookup is O(|map|) in
  interpreted eval — the indexed array is the same lesson as the PQ
  ADC LUT).

**Deliberately transcendental-free**: the score is the MEAN SMOOTHED
TRIGRAM PROBABILITY (add-one smoothing over the 28-symbol alphabet),
not CCNet's log-perplexity — ``ln`` is the one operation whose last
ulp is not contractually identical across engines, and this repo's
oracle gate is bit-exact value hashing. Mean probability orders docs
differently from mean log-probability in general, but serves the same
curation purpose (rare-trigram gibberish scores low, typical text
scores high) and keeps every arithmetic step — integer counts, one
double division per table cell, an ascending 0.0-seeded fold — exactly
reproducible in the DuckDB twin. ``min_p`` (the rarest trigram's
probability) is the gibberish spike detector.

No counterpart in the reference — engine breadth for the curation
stack (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ALPHABET = 28  # 0 = other, 1..26 = a-z, 27 = space


def _char_code(c: Column) -> Column:
    """Fixed alphabet code of a single character (already lowercased):
    [a-z] → 1..26, space → 27, anything else → 0."""
    a = F.ascii(c)
    return (
        F.when((a >= 97) & (a <= 122), a - 96)
        .when(a == 32, F.lit(27))
        .otherwise(F.lit(0))
    )


def trigram_indexes(text: Column) -> Column:
    """Array of trigram indexes (1-based: idx = c₁·28² + c₂·28 + c₃ + 1)
    over the lowercased text — empty for texts shorter than 3 chars.
    Pure map-side expression.

    Body-safe construction (the round-12 scorer lesson, measured here
    as charlm scoring going 117 s → ~1 s at sf0.1): chars split once,
    per-char codes via a lambda that touches only its variable, then
    the three shifted code slices combine through ``zip_with`` lambdas
    over lambda variables alone — never ``substring(norm, i, …)`` in a
    body, which interpreted HOF eval would recompute (lower(text) and
    all) per POSITION, an O(len²) trap that alias re-inlining can
    reintroduce even after attribute staging."""
    chars = F.split(F.lower(text), "")
    codes = F.transform(chars, _char_code)
    n = F.size(codes)
    length = n - 2
    c1 = F.slice(codes, 1, length)
    c2 = F.slice(codes, 2, length)
    c3 = F.slice(codes, 3, length)
    t12 = F.zip_with(
        c1, c2, lambda a, b: a * (ALPHABET * ALPHABET) + b * ALPHABET
    )
    return F.when(
        n >= 3,
        F.zip_with(t12, c3, lambda a, b: (a + b + 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))


def char_trigram_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The training pass: (idx, cnt) trigram occurrence counts over the
    corpus — key space bounded at 28³ rows however large the corpus,
    so the shuffle is a bounded-cardinality hash aggregate with
    map-side partials and the result is a dim table."""
    return (
        docs.select(
            F.explode(trigram_indexes(F.col(text_col))).alias("idx")
        )
        .groupBy("idx")
        .agg(F.count("*").alias("cnt"))
    )


def char_trigram_lm(
    docs: DataFrame, text_col: str = "text"
) -> list[float]:
    """Train the LM and materialize the full smoothed probability
    table: p[idx] = (cnt(idx) + 1) / (ctx(idx) + 28), where ctx is the
    count of the trigram's leading bigram (the sum of its 28 possible
    completions — exactly the occurrences of that bigram followed by
    any char). Returns the dense 28³ list (codebook-sized); every
    value is one integer-ratio double division, reproduced bit-for-bit
    by the twin."""
    k3 = ALPHABET**3
    cnt = [0] * (k3 + 1)
    for r in char_trigram_counts(docs, text_col).collect():
        cnt[int(r.idx)] = int(r.cnt)
    ctx = [0] * (ALPHABET * ALPHABET)
    for idx in range(1, k3 + 1):
        ctx[(idx - 1) // ALPHABET] += cnt[idx]
    return [
        (cnt[idx] + 1) / (ctx[(idx - 1) // ALPHABET] + ALPHABET)
        for idx in range(1, k3 + 1)
    ]


def charlm_score_expr(text: Column, table: list[float]) -> Column:
    """Struct(n_trigrams, mean_p, min_p) for a doc under a trained
    probability table: probs = element_at(LITERAL_ARRAY, idx) per
    position (O(1) — the array is one constant-folded literal), mean =
    ascending 0.0-seeded fold / count, both rounded to 6dp. Map-only;
    a doc with < 3 chars scores (0, 0.0, 0.0)."""
    # a TRUE Literal (F.lit of the list), not a CreateArray of 28³
    # literal nodes: the lookup lambda's body references it, and an
    # interpreted HOF re-evaluates body children per element —
    # re-building a 21,952-node CreateArray per POSITION (measured:
    # the difference between ~117 s and ~1 s at sf0.1); a Literal
    # "re-evaluates" by returning its stored ArrayData. ONE fold over
    # the index array carries (count, ascending 0.0-seeded sum, min)
    # together, so the trigram pipeline is evaluated once per row —
    # a separate size/sum/min would re-run it per occurrence.
    arr = F.lit([float(p) for p in table])
    acc0 = F.struct(
        F.lit(0).cast("long").alias("n"),
        F.lit(0.0).alias("tot"),
        F.lit(2.0).alias("mn"),  # probabilities are ≤ 1
    )
    def finish(acc):
        n = acc.getField("n")
        return F.struct(
            n.alias("n_trigrams"),
            F.round(
                F.when(n > 0, acc.getField("tot") / n.cast("double"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("mean_p"),
            F.round(
                F.when(n > 0, acc.getField("mn")).otherwise(F.lit(0.0)), 6
            ).alias("min_p"),
        )

    # the finish lambda derives every output from the accumulator
    # VARIABLE, so the whole score is ONE expression occurrence —
    # separate n/mean/min columns would each re-run the fold per row
    return F.aggregate(
        trigram_indexes(text),
        acc0,
        lambda acc, i: F.struct(
            (acc.getField("n") + 1).alias("n"),
            (acc.getField("tot") + F.element_at(arr, i)).alias("tot"),
            F.least(acc.getField("mn"), F.element_at(arr, i)).alias("mn"),
        ),
        finish,
    )


def charlm_scores_arrow(
    docs: DataFrame,
    table: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched scoring kernel — the third justified
    executor-Python escape (after the multimodal codecs and
    pq_encode_arrow), and like the PQ kernel it is **bit-exact** with
    the expression path, so the registered query stays under the
    value-hash gate:

    - LOWERING HAPPENS IN SPARK (`F.lower` before mapInPandas):
      Python's and the JVM's unicode lowercasing can disagree (and
      even change string length — 'İ' → 'i̇'), so the kernel never
      lowercases; it consumes pre-lowered text and maps code points
      exactly as the expression's ascii() CASE does.
    - The mean's fold is ``np.cumsum`` (sequential ascending
      accumulation by definition — never ``np.sum``, whose pairwise
      reassociation breaks bit-parity); min is order-free.
    - ROUNDING HAPPENS IN SPARK (`F.round` on the kernel's raw
      doubles): Python's round is half-even, Spark's is HALF_UP.

    Cost: the interpreted HOF path prices at ~7 ms/doc (≈1,500
    per-element interpreter steps — measured as charlm_quality's
    14 s at sf0.1); the kernel is a per-char table lookup plus three
    vectorized ops per doc. Parity with charlm_score_expr pinned in
    pytest over the real corpus."""
    return charlm_attach_arrow(docs.select(id_col, text_col), table, text_col)


def charlm_attach_arrow(
    df: DataFrame,
    table: list[float],
    text_col: str = "text",
) -> DataFrame:
    """Arrow kernel as a FUSABLE STAGE (round 14, VERDICT r13 #1):
    append (n_trigrams, mean_p, min_p) to an arbitrary-width frame —
    every other column passes through the Arrow batch untouched — so a
    composed pipeline (curation_full) can run its cheap expression
    gates FIRST and pay the Python kernel only for the survivors,
    without a join back (a join would re-shuffle the corpus; this is
    still one streamed scan). ``text_col`` itself is consumed: it is
    lowered into the kernel's input and dropped from the output.

    The one Arrow scoring kernel (:func:`charlm_scores_arrow` is this
    stage over (id, text)) — see there for the bit-exactness
    contract: lowering and rounding happen IN SPARK, the mean fold is
    an ascending ``np.cumsum`` — parity with :func:`charlm_score_expr`
    pinned in pytest. Passthrough columns must be Arrow-simple
    (ints/doubles/strings/booleans/binary — what a curation gate
    carries); validated up front so a caller composing this onto a
    frame still carrying a struct/array column (e.g. the ``rep``
    struct before projection) gets a clear plan-time ValueError
    instead of an opaque Arrow serialization failure at execution
    time (ADVICE r14)."""
    from pyspark.sql.types import (
        AtomicType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    tbl = [float(p) for p in table]
    src = df.withColumn("__lt", F.lower(F.col(text_col))).drop(text_col)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name != "__lt" and not isinstance(f.dataType, AtomicType)
    ]
    if bad:
        raise ValueError(
            "charlm_attach_arrow passthrough columns must be Arrow-"
            "simple scalars; project away or flatten first: "
            + ", ".join(bad)
        )
    keep = [f for f in src.schema.fields if f.name != "__lt"]
    out_schema = StructType(
        list(keep)
        + [
            StructField("n_trigrams", LongType()),
            StructField("__mean_raw", DoubleType()),
            StructField("__min_raw", DoubleType()),
        ]
    )
    keep_names = [f.name for f in keep]

    def score(batches):
        import numpy as np
        import pandas as pd

        t = np.asarray(tbl, dtype=np.float64)
        lut = np.zeros(128, dtype=np.int64)
        for o in range(97, 123):
            lut[o] = o - 96
        lut[32] = 27
        for pdf in batches:
            if not len(pdf):
                continue
            ns, means, mins = [], [], []
            for s in pdf["__lt"]:
                if s is None or len(s) < 3:
                    ns.append(0)
                    means.append(0.0)
                    mins.append(0.0)
                    continue
                codes = [
                    int(lut[o]) if (o := ord(ch)) < 128 else 0 for ch in s
                ]
                c = np.asarray(codes, dtype=np.int64)
                idx = (
                    c[:-2] * (ALPHABET * ALPHABET)
                    + c[1:-1] * ALPHABET
                    + c[2:]
                    + 1
                )
                p = t[idx - 1]
                ns.append(len(p))
                means.append(float(np.cumsum(p)[-1]) / len(p))
                mins.append(float(p.min()))
            out = pdf[keep_names].copy()
            out["n_trigrams"] = np.asarray(ns, dtype="int64")
            out["__mean_raw"] = means
            out["__min_raw"] = mins
            yield out

    return src.mapInPandas(score, out_schema).select(
        *keep_names,
        F.col("n_trigrams"),
        F.round("__mean_raw", 6).alias("mean_p"),
        F.round("__min_raw", 6).alias("min_p"),
    )
