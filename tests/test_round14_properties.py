"""Round-14 property tests — independent references for the new
surfaces: the fused charlm attach kernel, the distributed scorer fit,
SQ8 and the widened langid."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def test_charlm_attach_arrow_bit_exact_with_expr(spark):
    """The passthrough Arrow kernel (charlm_attach_arrow) must be
    BIT-EXACT with the expression path (charlm_score_expr) over the
    real corpus — same contract the standalone kernel carries — and
    must pass every non-text column through untouched."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.charlm import (
        char_trigram_lm,
        charlm_attach_arrow,
        charlm_score_expr,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        "text",
        F.length("text").alias("n_chars"),
        F.md5("text").alias("digest"),
    )
    table = char_trigram_lm(docs)

    via_expr = {
        r.doc_id: (r.n_chars, r.digest, r.s.n_trigrams, r.s.mean_p, r.s.min_p)
        for r in docs.select(
            "doc_id",
            "n_chars",
            "digest",
            charlm_score_expr(F.col("text"), table).alias("s"),
        ).collect()
    }
    via_kernel = {
        r.doc_id: (r.n_chars, r.digest, r.n_trigrams, r.mean_p, r.min_p)
        for r in charlm_attach_arrow(docs, table).collect()
    }
    assert via_kernel == via_expr
    assert len(via_kernel) == 500


def test_curation_full_matches_expression_gate(spark):
    """curation_full (Arrow-fused, cheap-gates-first) must keep the
    SAME doc set and values as the round-13 all-expression single
    select — the gates are independent per-doc predicates, so the
    reorder and the kernel swap must be invisible."""
    import __spark_entry__ as entrymod
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.charlm import (
        char_trigram_lm,
        charlm_score_expr,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        predict_lang,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.text import (
        quality_score,
        repetition_stats,
        token_count,
        tokens,
    )
    from pyspark.sql import Window

    docs = load_table(spark, SF_DIR, "documents")
    table = char_trigram_lm(docs)
    scored = docs.select(
        "doc_id",
        "text",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
        predict_lang(tokens(F.col("text"))).alias("pred_lang"),
        repetition_stats(F.col("text")).alias("rep"),
        charlm_score_expr(F.col("text"), table).alias("lm"),
    )
    kept = scored.filter(
        (F.col("pred_lang") == "en")
        & (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 5)
        & (F.col("rep.top_word_frac") <= 0.12)
        & (F.col("rep.dup_2gram_frac") <= 0.05)
        & (F.col("rep.dup_3gram_frac") <= 0.02)
        & (F.col("lm.mean_p") >= 0.62)
    ).select(
        F.md5("text").alias("digest"),
        "doc_id",
        "n_tokens",
        "quality",
        F.col("rep.top_word_frac").alias("top_word_frac"),
        F.col("lm.mean_p").alias("mean_p"),
    )
    min_id = F.min("doc_id").over(Window.partitionBy("digest"))
    reference = {
        r.doc_id: (r.digest, r.n_tokens, r.quality, r.top_word_frac, r.mean_p)
        for r in kept.withColumn("min_id", min_id)
        .filter(F.col("doc_id") == F.col("min_id"))
        .collect()
    }
    got = {
        r.doc_id: (r.digest, r.n_tokens, r.quality, r.top_word_frac, r.mean_p)
        for r in entrymod.queries()["curation_full"](spark, SF_DIR).collect()
    }
    assert got == reference
    assert 0 < len(got) < 500  # non-vacuous


def test_deleted_data_column_is_not_sniffed(spark, tmp_path):
    """Round-14 ADVICE: a source whose schema happens to carry a
    'deleted' DATA column must NOT arm the takedown path unless
    deleted_col is passed explicitly — every row indexes, no tombstone
    sidecar appears."""
    import os

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        IncrementalCountTable,
        incremental_band_index_stream,
    )

    schema = "doc_id long, text string, deleted boolean"
    src = str(tmp_path / "docs")
    tbl = str(tmp_path / "tbl")
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today", True),
        (2, "completely different text about spark engines here", None),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    q = incremental_band_index_stream(
        spark, src, tbl, str(tmp_path / "ckpt"), schema=schema
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    table = IncrementalCountTable(
        spark, tbl, ["doc_id", "band", "band_hash"],
        max_measures=("last_epoch",),
    )
    indexed = {r.doc_id for r in table.read().select("doc_id").distinct().collect()}
    assert indexed == {1, 2}  # doc 1 NOT diverted into a tombstone
    assert not os.path.exists(tbl.rstrip("/") + "-tombstones")


def test_psl_max_labels_guard_refuses_long_rules(spark):
    """Round-14 ADVICE: a PSL rule longer than the candidate window
    must refuse at build time, not silently mis-extract."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        psl_host_mapping,
        psl_rules_dim,
    )

    rules = psl_rules_dim(spark, ["a.b.c.d.e.f.g.h.i"])  # 9 labels
    hosts = spark.createDataFrame([("x.example.com",)], "host string")
    with pytest.raises(ValueError, match="max_labels >= 10"):
        psl_host_mapping(hosts, rules)  # default window of 8 too small
    # a window wide enough passes the guard and builds
    assert psl_host_mapping(hosts, rules, max_labels=10).count() == 1


def test_scorer_fit_learns_planted_signal(spark):
    """The distributed LS-GD fit must actually LEARN: on the planted
    corpus the trained classifier separates far above the majority
    class, while the untrained model (w=0) can only predict the
    majority — and the planted tokens' buckets carry the largest
    trained weights."""
    import __spark_entry__ as entrymod
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        scorer_predict,
    )

    w, bias, _n, cv = entrymod._scorer_fit_cached(spark, SF_DIR)
    rows = scorer_predict(cv, w, bias).collect()
    n = len(rows)
    acc = sum(1 for r in rows if bool(r.keep) == (r.y == 1)) / n
    majority = max(
        sum(1 for r in rows if r.y == 1), sum(1 for r in rows if r.y == 0)
    ) / n
    assert acc >= majority + 0.15, (acc, majority)
    assert acc >= 0.9

    # untrained (w=0, bias=ybar-ish) cannot beat majority
    base = scorer_predict(cv, [0.0] * len(w), 0.0).collect()
    base_acc = sum(1 for r in base if bool(r.keep) == (r.y == 1)) / n
    assert base_acc <= majority + 1e-9

    # the planted vocabulary's buckets dominate the weight vector:
    # every planted unigram bucket must rank in the top decile
    import hashlib

    planted = entrymod._SCORER_PLANT.split()
    buckets = {
        int(hashlib.md5(f"qs:{t}".encode()).hexdigest()[:8], 16) % len(w)
        for t in planted
    }
    order = sorted(range(len(w)), key=lambda b: -w[b])
    top = set(order[: max(1, len(w) // 10)])
    assert buckets <= top, (buckets, [w[b] for b in buckets])


def test_scorer_fit_empty_and_determinism(spark):
    """Edge + replay contracts: an empty frame fits zeros; refitting
    the same frame reproduces identical parameters (no RNG state)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scorer import (
        hashed_count_rows,
        scorer_fit_ls,
    )
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "doc_id long, text string")
    cv0 = hashed_count_rows(empty, F.lit(0), n_buckets=16)
    w0, b0 = scorer_fit_ls(cv0, n_buckets=16, epochs=2)
    assert w0 == [0.0] * 16 and b0 == 0.0

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    cv = hashed_count_rows(docs, (F.col("doc_id") % 2 == 0).cast("int"),
                           n_buckets=32)
    fit1 = scorer_fit_ls(cv, n_buckets=32, epochs=3, eta=100.0)
    fit2 = scorer_fit_ls(cv, n_buckets=32, epochs=3, eta=100.0)
    assert fit1 == fit2


def test_lang_id_ngram_planted_accuracy(spark):
    """The 20-language char-trigram classifier must classify EVERY
    planted snippet correctly, where the 4-language stopword path is
    structurally wrong on the 16 languages beyond its lanes — the
    round-14 'done' contract for langid breadth."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["lang_id_ngram"](
        spark, SF_DIR
    ).collect()
    assert len(rows) == 500
    wrong_ngram = [
        (r.true_lang, r.pred_ngram) for r in rows
        if r.pred_ngram != r.true_lang
    ]
    assert wrong_ngram == []
    # the stopword path only knows {de,en,es,fr}: every other planted
    # language is necessarily misclassified by it
    legacy = {"de", "en", "es", "fr"}
    beyond = [r for r in rows if r.true_lang not in legacy]
    assert beyond and all(r.pred_stopword != r.true_lang for r in beyond)


def test_predict_lang_ngram_edges(spark):
    """Empty/short text ties break to the smallest code; trigram
    profiles are well-formed (3 chars, lowercase, Latin-script only)."""
    import unicodedata

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        CHAR_PROFILES,
        predict_lang_ngram,
    )
    from pyspark.sql import functions as F

    for lang, tris in CHAR_PROFILES.items():
        for t in tris:
            assert len(t) == 3, (lang, t)
            assert t == t.lower(), (lang, t)
            for ch in t:
                assert "CYRILLIC" not in unicodedata.name(ch, "?"), (lang, t)
    df = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, None)], "id long, text string"
    )
    got = {
        r.id: r.p
        for r in df.select(
            "id", predict_lang_ngram(F.col("text")).alias("p")
        ).collect()
    }
    assert got[1] == sorted(CHAR_PROFILES)[0]
    assert got[2] == sorted(CHAR_PROFILES)[0]


def test_dsir_scores_separate_and_resample_upweights(spark):
    """DSIR invariants on the planted corpus: target-class docs score
    strictly above every non-target doc's mean band (separation), the
    ratio table matches an independent pure-Python recomputation, and
    min-max importance resampling keeps a visibly larger fraction of
    the target class."""
    import hashlib
    import re as _re

    import __spark_entry__ as entrymod
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.dsir import (
        dsir_ratio_table,
    )

    ratios = entrymod._dsir_ratios_cached(spark, SF_DIR)

    # independent reference: recompute counts/ratios in pure Python
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    ).collect()
    nb = 256

    def feats_of(text):
        toks = [t for t in _re.split(r"\s+", text.lower().strip()) if t]
        return toks + [
            toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
        ]

    def bucket(f):
        return int(
            hashlib.md5(("qs:" + f).encode()).hexdigest()[:8], 16
        ) % nb

    ct, cr = [0] * nb, [0] * nb
    tt = tr = 0
    for r in docs:
        text = (
            r.text + " " + entrymod._SCORER_PLANT
            if r.doc_id % 3 == 0
            else r.text
        )
        for f in feats_of(text):
            b = bucket(f)
            cr[b] += 1
            tr += 1
            if r.doc_id % 3 == 0:
                ct[b] += 1
                tt += 1
    assert ratios == dsir_ratio_table(ct, tt, cr, tr)

    rows = entrymod.queries()["dsir_scores"](spark, SF_DIR).collect()
    pos = [r.score for r in rows if r.y == 1]
    neg = [r.score for r in rows if r.y == 0]
    assert min(pos) > sum(neg) / len(neg)  # every target above raw mean
    assert sum(pos) / len(pos) > sum(neg) / len(neg) + 0.05

    counts = {
        r.y: (r.n_docs, r.n_kept)
        for r in entrymod.queries()["dsir_resampled_counts"](
            spark, SF_DIR
        ).collect()
    }
    kept_t = counts[1][1] / counts[1][0]
    kept_r = counts[0][1] / counts[0][0]
    assert kept_t > kept_r * 1.5, (kept_t, kept_r)


def test_bpe_train_hand_computed():
    """The trainer on a hand-checkable vocabulary: 'low'×5, 'lower'×2,
    'new'×6 — first merges follow the frequency order with the
    documented tie-break, and merged symbols participate in later
    merges (the multi-level property)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        bpe_train,
    )

    vocab = [("new", 6), ("low", 5), ("lower", 2)]
    merges, segs = bpe_train(vocab, k_merges=4)
    # pair counts round 1: (n,e)=6 (e,w)=6 (l,o)=7 (o,w)=7 (w,e)=2 (e,r)=2
    # → best (l,o) over (o,w) by lexicographic tie at 7
    assert merges[0][1:3] == ("l", "o")
    # round 2: (lo,w)=7 now the max (n,e)=6 (e,w)=6 ...
    assert merges[1][1:3] == ("lo", "w")
    # round 3: (n,e)=6 (e,w)=6 → (e,w) loses the a-ASC tie
    assert merges[2][1:3] == ("e", "w")
    assert merges[3][1:3] == ("n", "ew")
    assert segs["new"] == 1 and segs["low"] == 1 and segs["lower"] == 3


def test_bpe_merge_two_pass_semantics():
    """The merge primitive's contract: two replace passes are a
    FIXPOINT (fuzz vs a 4-pass run), every adjacent occurrence merges
    (equal to the classic left-to-right scan wherever no same-symbol
    run of length ≥ 5 exists — the documented deviation boundary),
    and no false match fires inside a multi-char symbol."""
    import random

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        SEP,
        _merge_once,
    )

    def classic_scan(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    def n_pass(syms, a, b, passes):
        s = SEP + SEP.join(syms) + SEP
        pat, rep = SEP + a + SEP + b + SEP, SEP + a + b + SEP
        for _ in range(passes):
            s = s.replace(pat, rep)
        return [x for x in s.split(SEP) if x]

    assert _merge_once(["a", "b", "a", "b"], "a", "b") == ["ab", "ab"]
    assert _merge_once(["ab", "b", "c"], "b", "c") == ["ab", "bc"]
    rng = random.Random(3)
    alpha = ["a", "b", "ab", "x", "y"]
    pairs = [("a", "b"), ("a", "a"), ("x", "x"), ("ab", "a"), ("y", "x")]
    for _ in range(4000):
        syms = [rng.choice(alpha) for _ in range(rng.randint(2, 14))]
        a, b = rng.choice(pairs)
        got = _merge_once(syms, a, b)
        assert got == n_pass(syms, a, b, 4), (syms, a, b)  # fixpoint
        # outside long same-symbol runs the classic scan agrees
        max_run = 1
        run = 1
        for i in range(1, len(syms)):
            run = run + 1 if syms[i] == syms[i - 1] else 1
            max_run = max(max_run, run)
        if not (a == b and max_run >= 5):
            assert got == classic_scan(syms, a, b), (syms, a, b)


def test_bpe_token_stats_oov_fallback(spark):
    """A truncated segmentation dim exercises the OOV path: unseen
    words count as characters and are reported in n_oov; subword
    counts never drop below word counts."""
    import __spark_entry__ as entrymod
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        bpe_token_stats,
        subword_count_dim,
    )

    docs = load_table(spark, SF_DIR, "documents")
    _merges, segs = entrymod._bpe_cached(spark, SF_DIR)
    truncated = dict(sorted(segs.items())[: len(segs) // 2])
    out = bpe_token_stats(docs, subword_count_dim(spark, truncated))
    rows = out.collect()
    assert rows
    assert any(r.n_oov > 0 for r in rows)
    assert all(r.n_subwords >= r.n_words for r in rows)
    # the full-vocab run has no OOV and stays ≥ words
    full = {
        r.doc_id: r
        for r in entrymod.queries()["bpe_token_stats"](
            spark, SF_DIR
        ).collect()
    }
    assert all(r.n_oov == 0 for r in full.values())
    assert all(r.n_subwords >= r.n_words for r in full.values())


def test_sq8_recall_and_reconstruction(spark):
    """SQ8 invariants: recall@3 vs brute force is near-exact (8
    bits/dim preserves geometry PQ's byte/subspace cannot — measured
    raw-PQ ADC is far below this on the same corpus), and the stored
    anorm equals the dequantized reconstruction norm exactly."""
    import math

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
        as_double_array,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.pq import (
        sq8_encode,
        sq8_topk,
        sq8_train,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.similarity import (
        brute_force_topk,
        recall_against,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    mins, scales = sq8_train(emb, dim=64)
    bf = brute_force_topk(emb, q, k=3, dim=64)
    approx = sq8_topk(emb, q, k=3, mins=mins, scales=scales, dim=64)
    assert recall_against(bf, approx) >= 0.9

    idx = sq8_encode(emb, mins, scales)
    for r in idx.filter(F.col("vec_id") < 10).collect():
        rec = [
            mins[i] + float(r.codes[i]) * scales[i] for i in range(64)
        ]
        assert abs(r.anorm - math.sqrt(sum(v * v for v in rec))) < 1e-9
        assert all(0 <= c <= 255 for c in r.codes)
    # quantization error is bounded by half a step per dimension
    vecs = {
        r.vec_id: [float(x) for x in r.e]
        for r in emb.select(
            "vec_id", as_double_array(F.col("embedding")).alias("e")
        ).filter(F.col("vec_id") < 10).collect()
    }
    for r in idx.filter(F.col("vec_id") < 10).collect():
        x = vecs[r.vec_id]
        for i in range(64):
            rec_i = mins[i] + float(r.codes[i]) * scales[i]
            assert abs(rec_i - x[i]) <= scales[i] / 2 + 1e-12
