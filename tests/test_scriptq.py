"""Script-aware quality gates (round 15 second wave) — unit and
property tests for functions/scriptq.py plus the composed
script_quality_stats / curation_multiscript / sequence_packing_bpe
pipeline contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.scriptq import (
    CLEAN_CLASS,
    CONTINUA_CLASS,
    CONTINUA_SCRIPTS,
    LETTER_CLASS,
    char_ngram_dup_frac,
    continua_char_count,
    is_continua,
    letter_count,
    letter_ratio,
    quality_score_script,
    script_token_count,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.text import (
    quality_score,
    token_count,
)

SF_DIR = "/root/testdata/sf0.001"

ZH = "在上海这个城市里很多人每天早上都会去公园散步然后喝茶聊天看看风景"
JA = "東京の街では多くの人が朝早く起きて公園を散歩してお茶を飲みながら話をしています"
TH = "ในกรุงเทพผู้คนเดินไปตลาดเพื่อซื้ออาหารและพูดคุยกับเพื่อนในตอนเช้า"
RU = "в москве сегодня хорошая погода и многие люди гуляют в парке"
EN = "the quick brown fox jumps over the lazy dog and runs to the park"
HI = "भारत में लोग सुबह उठकर बाजार जाते हैं"


def _one(spark, text, expr):
    df = spark.createDataFrame([(text,)], "text string")
    s = F.lower(F.coalesce(F.col("text"), F.lit("")))
    return df.select(expr(F.col("text"), s).alias("v")).first().v


def test_script_token_count_equals_ws_on_ascii(spark):
    """On pure spaced-script text the proxy IS the whitespace count."""
    df = spark.createDataFrame([(EN,), (RU,), (HI,), ("",)], "text string")
    rows = df.select(
        script_token_count(F.col("text")).alias("sc"),
        token_count(F.col("text")).alias("ws"),
    ).collect()
    for r in rows:
        assert r.sc == r.ws


def test_script_token_count_is_char_count_on_continua(spark):
    """Pure CJK/Thai text counts one token per character."""
    df = spark.createDataFrame([(ZH,), (JA,), (TH,)], "text string")
    rows = df.select(
        script_token_count(F.col("text")).alias("sc"),
        F.length(F.col("text")).alias("n"),
        token_count(F.col("text")).alias("ws"),
    ).collect()
    for r in rows:
        assert r.sc == r.n
        assert r.ws == 1  # the whitespace stack sees ONE giant token


def test_script_token_count_mixed_adds(spark):
    """Mixed text: continua chars + whitespace tokens of the rest
    (continua chars replaced by spaces split the Latin runs)."""
    v = _one(spark, "abc 在上海 def", lambda t, s: script_token_count(t))
    assert v == 3 + 2  # 在上海 = 3 chars, abc/def = 2 ws tokens


def test_is_continua_majority_routing(spark):
    """Majority-of-letters, not presence: a Latin doc quoting one CJK
    char keeps word metrics."""
    cases = [
        (ZH, True),
        (JA, True),
        (TH, True),
        (RU, False),
        (EN, False),
        (HI, False),
        (EN + " 在", False),  # quote, not majority
        ("在上 a", True),  # 2 continua > 1 latin
    ]
    df = spark.createDataFrame([(t,) for t, _e in cases], "text string")
    got = [
        r.v
        for r in df.select(
            is_continua(F.lower(F.coalesce(F.col("text"), F.lit("")))).alias(
                "v"
            )
        ).collect()
    ]
    assert got == [e for _t, e in cases]


def test_char_ngram_dup_frac_values(spark):
    """Hand-computed duplicate trigram fractions, including the
    sub-length guard (sequence() would COUNT DOWN without it)."""
    cases = [
        ("aaaa", 0.5),  # [aaa, aaa] → 1 distinct of 2
        ("ab", 0.0),  # shorter than n → guard
        ("", 0.0),
        ("abcdef", 0.0),  # all distinct
        ("ababab", 0.5),  # [aba,bab,aba,bab] → 2 of 4
    ]
    df = spark.createDataFrame([(t,) for t, _e in cases], "s string")
    got = [
        r.v
        for r in df.select(char_ngram_dup_frac(F.col("s"), 3).alias("v"))
        .collect()
    ]
    for (t, e), g in zip(cases, got):
        assert abs(g - e) < 1e-12, (t, e, g)


def test_quality_divergence_ws_rejects_script_keeps(spark):
    """THE defect this module fixes: clean non-Latin prose fails the
    whitespace gates (token floor or English-centric quality) and
    passes the script-aware gates."""
    df = spark.createDataFrame(
        [(ZH,), (JA,), (TH,), (RU,), (HI,)], "text string"
    )
    rows = df.select(
        token_count(F.col("text")).alias("n_ws"),
        quality_score(F.col("text")).alias("q_ws"),
        script_token_count(F.col("text")).alias("n_sc"),
        quality_score_script(F.col("text")).alias("q_sc"),
    ).collect()
    for r in rows:
        assert not (r.n_ws >= 5 and r.q_ws >= 0.5), r
        assert r.n_sc >= 5 and r.q_sc >= 0.5, r


def test_quality_score_script_bounds_and_empty(spark):
    df = spark.createDataFrame(
        [(EN,), (ZH,), ("",), ("!!!???",), (None,)], "text string"
    )
    rows = df.select(quality_score_script(F.col("text")).alias("q")).collect()
    for r in rows:
        assert 0.0 <= r.q <= 1.0
    # pure noise scores the floor terms only: no letters, no tokens
    noise_q = rows[3].q
    assert noise_q < 0.5


def test_letter_classes_cover_all_scripts(spark):
    """Every scripted snippet is ~all letters under LETTER_CLASS; the
    continua class covers exactly the 3 continua scripts."""
    assert set(CONTINUA_SCRIPTS) == {"han", "kana", "thai"}
    df = spark.createDataFrame(
        [(ZH,), (RU,), (HI,), (EN,)], "text string"
    )
    rows = df.select(letter_ratio(F.col("text")).alias("lr")).collect()
    for r in rows:
        assert r.lr > 0.75
    for cls in (CONTINUA_CLASS, LETTER_CLASS, CLEAN_CLASS):
        assert cls.startswith("[") and cls.endswith("]")


def test_curation_multiscript_contracts(spark):
    """Survivor contracts of the composed pipeline: every survivor is
    in the target mix, over both floors, unique per digest; continua
    survivors exist (the pipeline keeps CJK/Thai) and would have been
    rejected wholesale by the whitespace stack."""
    import __spark_entry__ as em

    out = em.queries()["curation_multiscript"](spark, SF_DIR).collect()
    assert len(out) > 0
    targets = set(em._MS_TARGETS)
    digests = [r.digest for r in out]
    assert len(digests) == len(set(digests))
    conts = 0
    for r in out:
        assert r.pred in targets
        assert r.n_tokens >= 5 and r.quality >= 0.5
        conts += r.cont
    assert conts > 0


def test_sequence_packing_bpe_fill_contract(spark):
    """The prefix-sum packing rule, stated exactly: within a shard,
    the cumulative token total through bin b reaches at least
    512 × (next present bin index) — a doc lands in bin b only while
    the running sum is still under 512 × (b + 1), so the sum must
    cross that line before a later bin can open. (Individual non-last
    bins can legitimately hold < 512: a large doc straddles.)"""
    import __spark_entry__ as em

    rows = em.queries()["sequence_packing_bpe"](spark, SF_DIR).collect()
    assert rows and all(r.total_tokens > 0 for r in rows)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, bins in by_shard.items():
        bins.sort(key=lambda r: r.bin)
        cum = 0
        for r, nxt in zip(bins, bins[1:]):
            cum += r.total_tokens
            assert cum >= 512 * nxt.bin, (shard, r.bin, cum)


def test_script_shingles_route(spark):
    """Continua docs emit char 6-grams (word path: ZERO shingles);
    spaced docs keep word 3-grams."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.dedup import (
        doc_shingles,
        script_doc_shingles,
    )

    df = spark.createDataFrame(
        [(1, ZH), (2, EN), (3, TH)], "doc_id long, text string"
    )
    word = {
        (r.doc_id, r.shingle) for r in doc_shingles(df, 3).collect()
    }
    routed = script_doc_shingles(df, 3, 6).collect()
    by_doc = {}
    for r in routed:
        by_doc.setdefault(r.doc_id, set()).add(r.shingle)
    # the word path is BLIND to the continua docs
    assert not {d for d, _s in word} & {1, 3}
    # the routed path sees them, as sliding char 6-grams
    assert len(by_doc[1]) == len(ZH) - 5  # all distinct in this text
    assert all(len(s) == 6 for s in by_doc[1])
    assert ZH[:6] in by_doc[1]
    # spaced docs: routed == word shingles exactly
    assert by_doc[2] == {s for d, s in word if d == 2}
    assert 3 in by_doc


def test_near_dup_pairs_script_contract(spark):
    """Every language's 7 suffix variants pair up (C(7,2) = 21 per
    language once exact dups are pre-collapsed), and the continua
    languages carry word_visible = 0 — the word pipeline reports zero
    pairs for them."""
    import __spark_entry__ as em

    rows = em.queries()["near_dup_pairs_script"](spark, SF_DIR).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.true_lang, []).append(r)
    for lang in ("ja", "th", "zh"):
        assert lang in by_lang
        for r in by_lang[lang]:
            assert r.word_visible == 0
        assert sum(r.n_pairs for r in by_lang[lang]) == 21
    for lang in ("en", "ru", "hi"):
        assert all(r.word_visible == 1 for r in by_lang[lang])


def test_kmv_merge_equals_direct(spark):
    """The KMV merge guarantee, on a controlled key set: merging
    per-day sketches equals the sketch built directly on the union —
    a hash among the global k smallest is in every containing day's
    k-min."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmv import (
        kmv_hash,
        kmv_merge,
        kmv_sketch,
    )

    rows = [(1, d, u) for d in range(5) for u in range(d * 40, d * 40 + 60)]
    df = spark.createDataFrame(rows, "g int, day int, uid long")
    keyed = df.select("g", "day", kmv_hash(F.col("uid")).alias("hx"))
    daily = kmv_sketch(keyed, ["g", "day"], k=16)
    merged = {
        r.hx for r in kmv_merge(daily, ["g"], k=16).collect()
    }
    direct = {
        r.hx
        for r in kmv_sketch(
            df.select("g", kmv_hash(F.col("uid")).alias("hx")), ["g"], k=16
        ).collect()
    }
    assert merged == direct and len(merged) == 16


def test_kmv_estimator_branches(spark):
    """Below saturation the estimate IS the exact count; at
    saturation it lands within the KMV error envelope (~4/√k is a
    very safe bound for one sketch)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmv import (
        kmv_estimate,
        kmv_hash,
        kmv_merge,
        kmv_sketch,
    )

    rows = [(0, 0, u) for u in range(50)] + [
        (1, 0, u) for u in range(20_000)
    ]
    df = spark.createDataFrame(rows, "g int, day int, uid long")
    keyed = df.select("g", "day", kmv_hash(F.col("uid")).alias("hx"))
    sk = kmv_merge(kmv_sketch(keyed, ["g", "day"]), ["g"])
    out = {r.g: r for r in kmv_estimate(sk, ["g"]).collect()}
    assert out[0].sketch_size == 50 and out[0].n_est == 50.0
    assert out[1].sketch_size == 256
    assert abs(out[1].n_est - 20_000) / 20_000 < 4 / (256 ** 0.5)


def test_kmv_query_accuracy_contract(spark):
    """The registered query's realized error stays inside the
    envelope, and unsaturated groups report exactly."""
    import __spark_entry__ as em

    rows = em.queries()["kmv_distinct_merge"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.sketch_size <= 256
        if r.sketch_size < 256:
            assert r.n_est == float(r.sketch_size) == float(r.n_exact)
        assert r.rel_err < 4 / (256 ** 0.5)


def test_kmv_set_ops_exact_when_unsaturated(spark):
    """Below saturation both sketches are complete sets, θ = 1, and
    the intersection/Jaccard estimates are EXACT."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmv import (
        kmv_hash,
        kmv_merge,
        kmv_set_ops,
    )

    rows = [("a", u) for u in range(100)] + [("b", u) for u in range(50, 130)]
    df = spark.createDataFrame(rows, "g string, uid long")
    sk = kmv_merge(
        df.select("g", kmv_hash(F.col("uid")).alias("hx")), ["g"]
    )
    out = kmv_set_ops(sk, "g").collect()
    assert len(out) == 1
    r = out[0]
    assert r.est_inter == 50.0  # |{50..99}|
    assert abs(r.est_jaccard - 50 / 130) < 1e-12


def test_kmv_set_ops_saturated_accuracy(spark):
    """Saturated sketches: planted 50% overlap of two 8k sets lands
    within the theta-sketch error envelope."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmv import (
        kmv_hash,
        kmv_merge,
        kmv_set_ops,
    )

    rows = [("a", u) for u in range(8000)] + [
        ("b", u) for u in range(4000, 12000)
    ]
    df = spark.createDataFrame(rows, "g string, uid long")
    sk = kmv_merge(
        df.select("g", kmv_hash(F.col("uid")).alias("hx")), ["g"]
    )
    r = kmv_set_ops(sk, "g").collect()[0]
    true_j = 4000 / 12000
    assert abs(r.est_jaccard - true_j) < 0.08
    assert abs(r.est_inter - 4000) / 4000 < 0.3


def test_kmv_jaccard_query_contract(spark):
    """The registered query: all 10 type pairs present, estimates
    inside the envelope realized by the sketch size."""
    import __spark_entry__ as em

    rows = em.queries()["kmv_jaccard_types"](spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.ga < r.gb
        assert r.jaccard_abs_err < 0.1


def test_sampled_percentiles_contract(spark):
    """The sampled estimates are actual data values, the sample is
    ~1/16 of the rows, and the p50 estimate lands within the
    inter-quartile neighborhood of the truth (binomial rank error at
    these sample sizes)."""
    import __spark_entry__ as em

    rows = em.queries()["sampled_percentiles"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_sample < r.n_full
        # 1/16 Bernoulli: loose 3x envelope, tiny groups included
        assert r.n_sample < r.n_full * 3 / 16 + 10
        assert r.p50_full <= r.p95_full
        assert r.p50_sample <= r.p95_sample


def test_script_ngrams_routing(spark):
    """Continua docs emit char 12-grams; a CJK doc has ZERO word
    8-grams (the blindness the routing fixes); spaced docs keep word
    grams."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.decontam import (
        script_ngrams,
        word_ngrams,
    )

    df = spark.createDataFrame([(1, ZH), (2, EN)], "doc_id long, text string")
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            F.size(word_ngrams(F.col("text"), 8)).alias("nw"),
            F.size(script_ngrams(F.col("text"))).alias("ns"),
        ).collect()
    }
    assert rows[1].nw == 0  # word path: blind
    assert rows[1].ns == len(ZH) - 11  # char 12-grams
    assert rows[2].nw == rows[2].ns > 0  # spaced: routed == word


def test_decontam_script_divergence(spark):
    """The registered query: continua languages are contaminated
    under the script check and INVISIBLE to the word check; spaced
    languages flag under both; untouched corpus text flags under
    neither."""
    import __spark_entry__ as em

    rows = {
        r.true_lang: r
        for r in em.queries()["benchmark_decontam_script"](
            spark, SF_DIR
        ).collect()
    }
    for lang in ("ja", "th", "zh"):
        r = rows[lang]
        assert r.n_eval_word == 0 and r.n_contam_word == 0
        assert r.n_contam_script == r.n_docs > 0
    for lang in ("en", "ru", "hi"):
        r = rows[lang]
        assert r.n_contam_word == r.n_docs > 0
        assert r.n_contam_script == r.n_docs
    assert rows["corpus"].n_contam_script == 0


def test_matryoshka_recall_contract(spark):
    """Shape and sanity of the truncation eval: every (query, dim)
    present, n_common ≤ n_full, and recall does not DECREASE in total
    as the prefix widens (wider prefixes only add information)."""
    import __spark_entry__ as em

    rows = em.queries()["matryoshka_recall"](spark, SF_DIR).collect()
    dims = sorted({r.dim for r in rows})
    assert dims == [8, 16, 32]
    by_dim = {d: 0 for d in dims}
    for r in rows:
        assert 0 <= r.n_common <= r.n_full
        assert abs(r.recall - r.n_common / r.n_full) < 1e-9
        by_dim[r.dim] += r.n_common
    assert by_dim[8] <= by_dim[32]


def test_language_mix_counts_contract(spark):
    """Realized rates track the recipe: en ≈ 1.0 (everything kept),
    tail languages ≈ 0.2; continua languages report token budgets in
    characters (kept zh tokens >> kept zh docs)."""
    import __spark_entry__ as em

    rows = {
        r.pred: r
        for r in em.queries()["language_mix_counts"](spark, SF_DIR).collect()
    }
    assert rows["en"].achieved_rate == 1.0
    for lang in ("zh", "ja", "th"):
        r = rows[lang]
        assert r.sum_tokens > r.n_docs * 10  # char-proxy budgets
        assert 0 < r.n_kept <= r.n_docs
    # a tail language keeps roughly its floor rate (loose: coin noise
    # on ~a dozen docs)
    tail = [r for lg, r in rows.items() if lg not in em._LANG_MIX_RATES]
    assert tail and all(r.n_kept <= r.n_docs for r in tail)


def test_quality_calibrated_contract(spark):
    """Per-language thresholds genuinely differ (the evidence a global
    floor is miscalibrated), every threshold is an actual quality
    value of its language, and keep rates are sane."""
    import __spark_entry__ as em

    rows = em.queries()["quality_calibrated"](spark, SF_DIR).collect()
    assert len(rows) >= 30
    thrs = {r.pred: r.q40_threshold for r in rows}
    assert len(set(thrs.values())) > 5  # not one global number
    for r in rows:
        assert 0.0 <= r.q40_threshold <= 1.0
        assert 0 < r.n_kept <= r.n_docs
        assert abs(r.kept_rate - r.n_kept / r.n_docs) < 1e-6
        # keeping the top ~60% can only over-keep through ties
        assert r.kept_rate >= 0.5


def test_incremental_kmv_stream_parity(spark, tmp_path):
    """The streamed sketch equals the batch-built sketch bit-for-bit
    under file-at-a-time batching (KMV union-merge is idempotent) and
    yields the identical estimate."""
    import datetime

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmv import (
        kmv_estimate,
        kmv_hash,
        kmv_merge,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        KmvSketchTable,
        incremental_kmv_stream,
    )

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    ts = datetime.datetime(2024, 1, 1)
    b1 = [(i, ts, i % 400, "click") for i in range(600)]
    b2 = [(1000 + i, ts, 300 + i % 500, "click") for i in range(700)] + [
        (5000 + i, ts, i, "view") for i in range(40)
    ]
    src = str(tmp_path / "ev")
    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    table = str(tmp_path / "kmv_table")
    q = incremental_kmv_stream(
        spark, src, table, str(tmp_path / "kck"), k=64
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = KmvSketchTable(spark, table, "event_type", k=64).read()
    batch = kmv_merge(
        spark.read.parquet(src).select(
            "event_type", kmv_hash(F.col("user_id")).alias("hx")
        ),
        ["event_type"],
        k=64,
    ).select("event_type", "hx")
    s_set = {(r.event_type, r.hx) for r in streamed.collect()}
    b_set = {(r.event_type, r.hx) for r in batch.collect()}
    assert s_set == b_set and len(s_set) > 0
    # estimates off the maintained artifact == off the batch sketch
    wo = Window.partitionBy("event_type").orderBy("hx")
    ranked = streamed.withColumn("rk", F.row_number().over(wo))
    est = {
        r.event_type: r.n_est
        for r in kmv_estimate(ranked, ["event_type"], k=64).collect()
    }
    # view: 40 distinct users < k -> exact; click: saturated estimate
    assert est["view"] == 40.0
    assert abs(est["click"] - 800) / 800 < 4 / (64 ** 0.5)


def test_kmv_sketch_table_replay_and_failed_write(spark, tmp_path):
    """The KMV sketch on the generation chain: merging an epoch twice
    leaves the sketch unchanged; a merge whose write raises leaves the
    previous generation CURRENT and readable; re-running that epoch
    ends bit-equal to the batch sketch over everything merged."""
    import json
    import os

    import pytest

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators.kmv import (
        kmv_hash,
        kmv_merge,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        KmvSketchTable,
    )

    k = 8
    t = KmvSketchTable(spark, str(tmp_path / "kmv"), "g", k=k)

    def hashed(rows):
        return spark.createDataFrame(rows, "g string, user_id long").select(
            "g", kmv_hash(F.col("user_id")).alias("hx")
        )

    def sketch(df):
        return sorted(map(tuple, df.select("g", "hx").collect()))

    def pointer():
        with open(os.path.join(t.path, "CURRENT")) as f:
            return json.load(f)

    e0 = [("a", i) for i in range(20)] + [("b", i) for i in range(3)]
    e1 = [("a", 100 + i) for i in range(20)] + [("b", 7)]
    t.merge_batch(hashed(e0), 0)
    after0 = sketch(t.read())
    assert after0 == sketch(kmv_merge(hashed(e0), ["g"], k=k))
    # the same epoch merged twice: rebased on its parent, unchanged
    t.merge_batch(hashed(e0), 0)
    assert sketch(t.read()) == after0
    # epoch 1's write raises: CURRENT still names epoch 0's generation
    ptr0 = pointer()
    boom = hashed(e1).withColumn(
        "hx", F.coalesce(F.raise_error("injected write failure"), F.col("hx"))
    )
    with pytest.raises(Exception, match="injected write failure"):
        t.merge_batch(boom, 1)
    assert pointer() == ptr0
    assert sketch(t.read()) == after0
    # re-running epoch 1 lands on the batch sketch of e0 + e1
    t.merge_batch(hashed(e1), 1)
    assert pointer()["epoch"] == 1 and pointer()["parent"] == ptr0["gen"]
    assert sketch(t.read()) == sketch(kmv_merge(hashed(e0 + e1), ["g"], k=k))


def test_dedup_survivors_script_contract(spark):
    """Every planted language — continua included — collapses its 7
    suffix near-variants to exactly ONE survivor; the word pipeline
    would have left all 7 CJK variants as false uniques."""
    import __spark_entry__ as em

    rows = {
        r.true_lang: r
        for r in em.queries()["dedup_survivors_script"](
            spark, SF_DIR
        ).collect()
    }
    for lang in ("zh", "ja", "th", "ru", "en"):
        r = rows[lang]
        assert r.n_canon == 7  # the suffix variants (sf0.001)
        assert r.n_survivors == 1 and r.n_dropped == 6
    assert rows["corpus"].n_canon > 50


def test_html_to_text_rules(spark):
    """The extraction contract, rule by rule: script/style drop WITH
    content, comments drop, tags drop, entities decode exactly once
    (so &amp;lt; becomes the literal string '&lt;'), whitespace
    squeezes."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.html import (
        html_to_text,
    )

    cases = [
        ("<p>hello <b>world</b></p>", "hello world"),
        ("<script>var x = 'gone';</script>kept", "kept"),
        ("<style>p{}</style>kept", "kept"),
        ("<!-- secret -->visible", "visible"),
        ("a&amp;b &lt;tag&gt; &quot;q&quot; &nbsp;", 'a&b <tag> "q"'),
        ("&amp;lt;", "&lt;"),  # one decode pass, no double-decode
        ("  spaced\n\tout  ", "spaced out"),
        ("<SCRIPT>UP</SCRIPT>low", "low"),  # case-insensitive elements
        (None, ""),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _e) in enumerate(cases)], "i long, h string"
    )
    got = {
        r.i: r.v
        for r in df.select("i", html_to_text(F.col("h")).alias("v")).collect()
    }
    for i, (_t, e) in enumerate(cases):
        assert got[i] == e, (i, _t, e, got[i])


def test_html_extracted_stats_contract(spark):
    """Extraction strictly shrinks the scaffolded docs and keeps the
    body text: extracted tokens = body tokens + the 5 planted
    decoded words (Q&A <notes> "end")."""
    import __spark_entry__ as em
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources.tables import (
        load_table,
    )

    out = {
        r.doc_id: r
        for r in em.queries()["html_extracted_stats"](spark, SF_DIR).collect()
    }
    base = {
        r.doc_id: r.n
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", token_count(F.col("text")).alias("n"))
        .collect()
    }
    for i, r in out.items():
        assert r.n_tokens_raw > r.n_tokens_text
        # 'doc' '<id>' (title text survives — only script/style drop
        # content) + 'Q&A' '<notes>' + '"end"'
        assert r.n_tokens_text == base[i] + 5


def test_bpe_compression_fairness_gap(spark):
    """The measured inequity: the English-trained merges compress en
    (ratio > 1) and leave every non-Latin script at exactly 1.0
    chars/subword (no merge applies — each char stays a subword)."""
    import __spark_entry__ as em

    rows = {
        r.true_lang: r
        for r in em.queries()["bpe_compression_by_lang"](
            spark, SF_DIR
        ).collect()
    }
    assert rows["en"].chars_per_subword > 1.0
    for lang in ("zh", "ja", "th", "ru", "ar", "he", "el", "hi"):
        r = rows[lang]
        assert r.chars_per_subword == 1.0
        assert r.n_subwords == r.n_chars
