"""Round-15 property tests — the multi-script language ID (Unicode
script-block routing + Cyrillic/Arabic trigram families) and the other
round-15 surfaces as they land."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
    ALL_LANGS,
    ARABIC_PROFILES,
    CHAR_PROFILES,
    CYRILLIC_PROFILES,
    SCRIPT_CLASSES,
    predict_lang_ngram,
    predict_lang_script,
    script_count,
)

SF_DIR = "/root/testdata/sf0.001"


def _planted(spark):
    import __spark_entry__ as em

    return em.queries()["lang_id_script"](spark, SF_DIR)


def test_multiscript_planted_accuracy_100(spark):
    """Every one of the 32 planted languages must classify correctly
    on the script path — 100% accuracy, not a threshold."""
    rows = _planted(spark).collect()
    assert len(rows) == 500
    wrong = [(r.true_lang, r.pred) for r in rows if r.pred != r.true_lang]
    assert wrong == []
    assert {r.true_lang for r in rows} == set(ALL_LANGS)
    assert len(ALL_LANGS) == 32


def test_latin_only_path_structurally_wrong_on_nonlatin(spark):
    """The pre-round-15 Latin-only path must argmax-tie to 'ca' on
    EVERY non-Latin document (all its profiles score 0 beyond Latin) —
    the planted divergence that motivated the script router."""
    latin = set(CHAR_PROFILES)
    rows = _planted(spark).collect()
    nonlatin_rows = [r for r in rows if r.true_lang not in latin]
    assert len(nonlatin_rows) > 0
    assert all(r.pred_latin_only == "ca" for r in nonlatin_rows)
    # and on Latin documents the two paths agree exactly
    for r in rows:
        if r.true_lang in latin:
            assert r.pred == r.pred_latin_only == r.true_lang


def test_script_count_codepoint_exact(spark):
    """Script-block counts are code-point exact on combining-mark
    scripts (Thai vowels, Devanagari matras) and mixed text — the
    cross-engine parity precondition probed before adoption."""
    df = spark.createDataFrame(
        [("abcที่ผู้xyz", "приветhello", "में हैं", "사람들이")],
        "a string, b string, c string, d string",
    )
    r = df.select(
        script_count(F.col("a"), "thai").alias("thai"),
        script_count(F.col("a"), "latin").alias("lat"),
        script_count(F.col("b"), "cyrillic").alias("cyr"),
        script_count(F.col("c"), "devanagari").alias("deva"),
        script_count(F.col("d"), "hangul").alias("han"),
    ).collect()[0]
    assert (r.thai, r.lat, r.cyr, r.deva, r.han) == (6, 6, 6, 6, 4)


def test_predict_lang_script_edge_inputs(spark):
    """NULL/empty/stray-char routing: NULL and empty take the Latin
    tie-break ('ca'); a Latin document quoting one Cyrillic character
    still routes Latin; kana presence splits ja from zh."""
    df = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "the of and is that with д"),
            (4, "在上海这个城市里很多人"),
            (5, "東京の街では多くの人が"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.p
        for r in df.select(
            "doc_id", predict_lang_script(F.col("text")).alias("p")
        ).collect()
    }
    assert got == {1: "ca", 2: "ca", 3: "en", 4: "zh", 5: "ja"}


def test_profile_invariants():
    """All family profiles are strict trigrams over their own script,
    and the emitted language set is exactly the documented 32."""
    for fam in (CHAR_PROFILES, CYRILLIC_PROFILES, ARABIC_PROFILES):
        for lang, tris in fam.items():
            assert all(len(t) == 3 for t in tris), (lang, tris)
            assert len(tris) == len(set(tris)) == 20, lang
    assert set(SCRIPT_CLASSES) == {
        "arabic",
        "cyrillic",
        "devanagari",
        "greek",
        "han",
        "hangul",
        "hebrew",
        "kana",
        "latin",
        "thai",
    }


def test_bpe_apply_expr_matches_training_segmentation(spark):
    """Replaying the merge list via apply_merges_expr must reproduce
    the TRAINING segmentation bit-for-bit on every trained word —
    classic BPE application is 'replay the merges in learned order',
    and both paths share the two-pass padded replace semantics."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        SEP,
        apply_merges_expr,
        bpe_train,
        subword_count_expr,
        vocab_with_freq,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents")
    vocab = vocab_with_freq(docs, top_v=64)
    merge_rows, segs = bpe_train(vocab, k_merges=8)
    merges = [(a, b) for _s, a, b, _c in merge_rows]
    wdf = spark.createDataFrame([(w,) for w, _f in vocab], "w string")
    got = {
        r.w: (r.seg, r.n)
        for r in wdf.select(
            "w",
            apply_merges_expr(F.col("w"), merges).alias("seg"),
            subword_count_expr(F.col("w"), merges).alias("n"),
        ).collect()
    }
    for w, _f in vocab:
        seg, n = got[w]
        assert n == segs[w], (w, n, segs[w])
        assert seg.strip(SEP).count(SEP) + 1 == n or n == 0


def test_bpe_planted_words_are_oov_and_compress(spark):
    """The planted words must be absent from the trained vocabulary
    (true OOV) AND must segment into FEWER subwords than characters —
    i.e. learned merges genuinely apply to unseen words."""
    import __spark_entry__ as em
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.bpe import (
        subword_count_expr,
    )

    merge_rows, segs = em._bpe_cached(spark, SF_DIR)
    merges = [(a, b) for _s, a, b, _c in merge_rows]
    assert not set(em._BPE_PLANT_WORDS) & set(segs)
    wdf = spark.createDataFrame(
        [(w,) for w in em._BPE_PLANT_WORDS], "w string"
    )
    rows = wdf.select(
        "w", subword_count_expr(F.col("w"), merges).alias("n")
    ).collect()
    assert all(0 < r.n < len(r.w) for r in rows), rows


def test_sig_fit_calibrated_and_beats_majority(spark):
    """The sigmoid-link fit must (a) emit genuine probabilities in
    (0,1), (b) separate the planted classes by a wide calibrated gap,
    and (c) beat the majority class on thresholded accuracy — the
    planted-recovery bar the LS fit set, now with a calibrated
    output."""
    import __spark_entry__ as em

    rows = em.queries()["scorer_sig_scores"](spark, SF_DIR).collect()
    assert all(0.0 < r.p < 1.0 for r in rows)
    n1 = sum(1 for r in rows if r.y == 1)
    n0 = len(rows) - n1
    mean_p1 = sum(r.p for r in rows if r.y == 1) / n1
    mean_p0 = sum(r.p for r in rows if r.y == 0) / n0
    assert mean_p1 - mean_p0 > 0.3, (mean_p1, mean_p0)
    acc = sum(1 for r in rows if r.keep == (r.y == 1)) / len(rows)
    maj = max(n0, n1) / len(rows)
    assert acc > maj + 0.15, (acc, maj)


def test_sig_alg_is_transcendental_free_sigmoid():
    """σ̃ sanity on the driver: range (0,1), σ̃(0)=0.5, odd symmetry
    around 0.5, monotone — the properties the calibration story rests
    on (the bit-exactness itself is carried by the oracle hash)."""
    def s(z):
        return 0.5 + 0.5 * z / (1.0 + abs(z))

    assert s(0.0) == 0.5
    zs = [-1e9, -3.0, -0.5, 0.0, 0.5, 3.0, 1e9]
    vals = [s(z) for z in zs]
    assert all(0.0 < v < 1.0 for v in vals)
    assert vals == sorted(vals)
    for z in (0.25, 1.0, 7.5):
        assert abs((s(z) - 0.5) + (s(-z) - 0.5)) < 1e-15


def test_curation_full_web_gates_compose(spark):
    """The web pipeline must be exactly curation_full further gated by
    the blocklist and the domain cap: every web survivor is a
    curation_full survivor, no survivor's domain is blocklisted, no
    domain exceeds the cap, and the gates are non-vacuous (web keeps
    strictly fewer docs)."""
    import __spark_entry__ as em

    qs = em.queries()
    full = {r.doc_id for r in qs["curation_full"](spark, SF_DIR).collect()}
    web = qs["curation_full_web"](spark, SF_DIR).collect()
    web_ids = {r.doc_id for r in web}
    assert web_ids < full
    blocked = {
        r.reg_domain
        for r in qs["url_domain_extract"](spark, SF_DIR).collect()
        if r.doc_id % 10 == 0
    }
    assert not {r.reg_domain for r in web} & blocked
    from collections import Counter

    per_dom = Counter(r.reg_domain for r in web)
    assert max(per_dom.values()) <= 5
    assert all(1 <= r.rk <= 5 for r in web)


def test_lang_id_script_plan_zero_exchanges(spark):
    """Map-only contract: the multi-script classifier is a pure
    projection over the scan — no DATA-DEPENDENT exchange anywhere in
    the plan. The scale-gated small-scan fan-out (round 16,
    sources.fan_out_small_scan) may insert one round-robin exchange
    under the scan on the single-file local fixture; it provably
    no-ops at production split counts, so the contract allows that
    one round-robin exchange and no other exchange of any kind."""
    plan = (
        _planted(spark)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_rr = plan.count("Exchange RoundRobinPartitioning")
    assert n_rr <= 1, plan  # at most the one scan fan-out
    assert plan.count("Exchange") - n_rr == 0, plan
